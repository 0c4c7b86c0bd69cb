package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.geom.{CrsTransform, GeomLib, H3Lib}
import graft.text.TextLib

import Main.median

/** Layer probes of the traced run. `kernels` calls the geometry and text
  * kernels directly on one thread; `functions` drives the same kernels
  * through their Catalyst expressions on a cached single-partition frame
  * (the gap is expression overhead); `operators` calls the pipeline's
  * public steps one at a time. All inputs derive from the run's seed. */
object Layers {
  val n = 20000
  val reps = 5

  /** Footprint squares in the East-Asia box: (lon, lat, half-size). */
  def footprints(seed: Long): Array[(Double, Double, Double)] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)((90.0 + 60.0 * r.nextDouble(), -10.0 + 65.0 * r.nextDouble(),
      0.00005 + 0.00025 * r.nextDouble()))
  }

  def squareWkt(x: Double, y: Double, h: Double): String =
    s"POLYGON ((${x - h} ${y - h}, ${x + h} ${y - h}, ${x + h} ${y + h}, ${x - h} ${y + h}, ${x - h} ${y - h}))"

  def merc(x: Double, y: Double): (Double, Double) =
    (math.toRadians(x) * 6378137.0,
      math.log(math.tan(math.Pi / 4 + math.toRadians(y) / 2)) * 6378137.0)

  /** ns per row of `f` over `rows` rows: the median of `reps` sweeps. */
  private def nsPerRow[A](rows: Array[A])(f: A => Any): Double = {
    var sink = 0
    f(rows(0)) // first touch
    median((0 until reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows.length) { if (f(rows(i)) != null) sink += 1; i += 1 }
      (System.nanoTime() - t0).toDouble / rows.length
    }) + (if (sink == -1) 1 else 0)
  }

  def kernels(seed: Long): Seq[(String, Double)] = {
    val fp = footprints(seed)
    val wkts = fp.map { case (x, y, h) => squareWkt(x, y, h) }
    val wkbs = wkts.map(GeomLib.fromText)
    val merc3857 = fp.map { case (x, y, h) =>
      val (mx0, my0) = merc(x - h, y - h); val (mx1, my1) = merc(x + h, y + h)
      GeomLib.fromText(s"POLYGON (($mx0 $my0, $mx1 $my0, $mx1 $my1, $mx0 $my1, $mx0 $my0))")
    }
    // polyfill wants polygons several cells wide: 0.02° squares at res 9
    val big = fp.take(2000).map { case (x, y, _) => GeomLib.fromText(squareWkt(x, y, 0.01)) }
    val pairs = fp.take(5000).map { case (x, y, h) =>
      (GeomLib.fromText(squareWkt(x, y, h)), GeomLib.fromText(squareWkt(x + h, y, h)))
    }
    val r = new scala.util.Random(seed)
    val words = "spark window merge table column vector stream value data small join".split(' ')
    val texts = Array.fill(2000)(Seq.fill(10 + r.nextInt(90))(words(r.nextInt(words.length))).mkString(" "))
    Seq(
      "geom.wkb_read_ns" -> nsPerRow(wkbs)(GeomLib.read),
      "geom.hilbert_ns" -> nsPerRow(wkbs)(GeomLib.hilbertOfGeom),
      "geom.transform_ns" -> nsPerRow(merc3857)(w => CrsTransform.transformWkb(w, 3857, 4326)),
      "geom.h3_cell_ns" -> nsPerRow(fp)(p => Long.box(H3Lib.latLngToCell(p._2, p._1, 7))),
      "geom.h3_polyfill_ns" -> nsPerRow(big)(w => GeomLib.h3PolygonToCells(w, 9)),
      "geom.overlay_ns" -> nsPerRow(pairs)(p => (GeomLib.union(p._1, p._2), GeomLib.intersection(p._1, p._2))),
      "geom.wkt_parse_ns" -> nsPerRow(wkts)(GeomLib.fromText),
      "text.minhash_ns" -> nsPerRow(texts)(t => TextLib.minHashSignature(TextLib.shingleHashes(t, 3), 64, 42L)))
  }

  def functions(s: SparkSession, seed: Long): Seq[(String, Double)] = {
    import s.implicits._
    val fp = footprints(seed)
    val rows = fp.zipWithIndex.map { case ((x, y, h), i) =>
      val (mx0, my0) = merc(x - h, y - h); val (mx1, my1) = merc(x + h, y + h)
      (i, x, y, squareWkt(x, y, h), s"POLYGON (($mx0 $my0, $mx1 $my0, $mx1 $my1, $mx0 $my1, $mx0 $my0))")
    }
    val df = rows.toSeq.toDF("id", "lon", "lat", "wkt", "wkt3857").repartition(1)
      .select(col("id"), col("lon"), col("lat"), st_geomfromtext(col("wkt")).as("geom"),
        st_geomfromtext(col("wkt3857")).as("geom3857"))
      .cache()
    df.count()
    def probe(f: => org.apache.spark.sql.DataFrame): Double =
      median((0 until reps).map { _ =>
        val t0 = System.nanoTime(); Main.noop(f); (System.nanoTime() - t0).toDouble / n
      })
    val out = Seq(
      "functions.hilbert_of_geom_ns" -> probe(df.select(hilbert_of_geom(col("geom")))),
      "functions.st_transform_ns" -> probe(df.select(st_transform(col("geom3857"), lit(3857), lit(4326)))),
      "functions.h3_latlng_to_cell_ns" -> probe(df.select(h3_latlng_to_cell(col("lat"), col("lon"), lit(7)))),
      "functions.st_union_agg_ns" -> probe(df.groupBy(col("id") % 200).agg(st_union_agg(col("geom")))))
    df.unpersist(blocking = true)
    out
  }

  /** The pipeline's public steps one by one over the probe sources:
    * normalize (with its flip-probe job), the clustered write without the
    * footer, the footer, the file counts and the merge. */
  def operators(s: SparkSession, tr: Tracer, etl: Main.Etl, out: String, cores: Int,
      drain: () => Unit): Seq[(String, Double)] = {
    import graft.operators.{GeoNormalize, MergeParquet}
    def timed(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); tr.span("op", name)(f); (System.nanoTime() - t0) / 1e9
    }
    var normalize, write, footer, inputRows = 0.0
    etl.sources.zipWithIndex.foreach { case ((path, epsg), i) =>
      var df: org.apache.spark.sql.DataFrame = null
      normalize += timed("operators.normalize") { df = GeoNormalize.normalize(s.read.parquet(path), epsg) }
      drain(); val before = tr.stage.inputRows
      write += timed("operators.write_clustered")(
        GeoNormalize.writeClustered(df, s"$out/conv/s$i", numFiles = 1, geoFooter = false))
      drain(); inputRows += tr.stage.inputRows - before
      footer += timed("operators.geo_footer")(GeoNormalize.writeGeoParquetFooter(s, s"$out/conv/s$i"))
    }
    val conv = Main.parquetFiles(s"$out/conv")
    val counts = timed("operators.file_counts")(MergeParquet.fileCounts(s, conv))
    tr.maxTaskMs.remove("operators.merge")
    val merge = timed("operators.merge")(
      MergeParquet.merge(s, conv, s"$out/merged", maxRows = etl.maxRows, maxConcurrent = cores))
    drain()
    Main.deleteTree(out)
    Seq(
      "operators.normalize_s" -> normalize,
      "operators.write_clustered_s" -> write,
      "operators.geo_footer_s" -> footer,
      "operators.file_counts_s" -> counts,
      "operators.merge_s" -> merge,
      "operators.write_clustered.input_passes" -> inputRows / etl.rows,
      "operators.merge.max_task_s" -> tr.maxTaskMs.getOrElse("operators.merge", 0L) / 1e3)
  }
}
