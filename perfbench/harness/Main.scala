package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** One benchmark run inside one JVM: set-up, the timed window of passes,
  * an optional traced window with layer probes, and the outputs the
  * correctness checks read. Raw timings go to `<work>/result.json`; the
  * Python runner (`perfbench/run.py`) turns them into metrics after it has
  * checked the outputs, so an operation whose output is wrong never
  * contributes a time.
  *
  * Usage: Main --workload W --data DIR --warm DIR --probe DIR --work DIR
  *   --seconds S --trace 0|1 --cores N --seed N */
object Main {

  val kernelQueries = Seq("g16_union_agg", "g13_h3_polyfill", "g4_transform_webmerc",
    "sql4_intersects_sql", "t46_perplexity_buckets", "t63_sample_quantiles")

  val lakeLoopQueries = Seq("k16_tablelog_skipping", "k16c_quantile_zorder",
    "k26_bloom_skipping", "k26b_bloom_maintained", "k24b_dv_materialize",
    "k39_rgidx_compact", "k28_rowgroup_skipping", "k29_point_lookup", "k22_delete",
    "k23_update", "k27_incr_view", "k14_table_optimize", "k1c_geoparquet_prune",
    "sql12_lake_dml", "sql13_lake_select", "j10_dbscan", "j11_knn_join",
    "t15_dup_clusters", "t31_pagerank", "t67_label_prop")

  /** A query that must fail: the self-test checks it is reported as failed
    * and never timed. */
  val failingProbe = "selftest_missing_table"

  def newSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** An operation of a pass: its name and the call it times. */
  final case class Op(name: String, run: () => Unit)

  def queryOps(s: SparkSession, names: Seq[String], dir: String): Seq[Op] =
    names.map { n =>
      Op(n, () => noop(query(n)(s, dir)))
    }

  def query(n: String): (SparkSession, String) => DataFrame =
    if (n == failingProbe) (s, d) => s.read.parquet(s"$d/no_such_table.parquet")
    else graft.SparkEntry.queries(n)

  // --- etl_pipeline --------------------------------------------------------

  final case class Etl(sources: Seq[(String, Int)], rows: Long, maxRows: Long)

  def readEtl(dir: String): Etl = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(s"$dir/manifest.json"))
    val srcs = m.get("sources").elements().asScala.map(n =>
      n.get("path").asText -> n.get("epsg").asInt).toSeq
    Etl(srcs, m.get("rows").asLong, m.get("max_rows").asLong)
  }

  def parquetFiles(dir: String): Seq[String] = {
    val d = new File(dir)
    if (!d.exists) Seq.empty
    else Files.walk(d.toPath).iterator().asScala.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !new File(p).getName.startsWith("."))
      .toSeq.sorted
  }

  def heatmap(s: SparkSession, merged: Seq[String]): DataFrame =
    s.read.parquet(merged: _*)
      .select(h3_latlng_to_cell(st_y(st_centroid(col("geom"))),
        st_x(st_centroid(col("geom"))), lit(7)).as("h3_7"))
      .groupBy("h3_7").agg(count(lit(1)).as("num_recs"))

  /** The paper's pipeline as three timed steps writing under `out`. */
  def etlOps(s: SparkSession, etl: Etl, out: String, cores: Int): Seq[Op] = Seq(
    Op("convert", () => {
      val failed = graft.operators.GeoNormalize.convertAll(s, etl.sources, s"$out/conv",
        numFilesPerSource = 1, maxConcurrent = cores)
      if (failed.nonEmpty) throw failed.head._2
    }),
    Op("merge", () => {
      graft.operators.MergeParquet.merge(s, parquetFiles(s"$out/conv"), s"$out/merged",
        maxRows = etl.maxRows, zstdLevel = 22, maxConcurrent = cores)
    }),
    Op("heatmap", () => noop(heatmap(s, parquetFiles(s"$out/merged")))))

  def deleteTree(p: String): Unit = {
    val f = new File(p)
    if (f.exists) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(x => Files.deleteIfExists(x))
  }

  // --- running passes -----------------------------------------------------

  /** Per pass: wall seconds and, per operation, its seconds or the error. */
  final case class Pass(wall: Double, ops: Seq[(String, Either[String, Double])])

  def runPass(ops: Seq[Op], tracer: Option[Tracer]): Pass = {
    var timed = 0.0
    val res = ops.map { op =>
      System.gc() // garbage of the previous operation is not charged to this one
      val t = System.nanoTime()
      val r = try {
        tracer match {
          case Some(tr) => tr.span("op", op.name)(op.run())
          case None => op.run()
        }
        Right((System.nanoTime() - t) / 1e9)
      } catch { case e: Throwable => Left(e.toString.take(300)) }
      timed += (System.nanoTime() - t) / 1e9
      op.name -> r
    }
    Pass(timed, res)
  }

  /** Whole passes until `seconds` have passed; at least one. */
  def window(seconds: Double)(pass: Int => Pass): Seq[Pass] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Pass]
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      out += pass(i); i += 1
    }
    out.result()
  }

  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  def passJson(p: Pass): String = Json.obj(Seq(
    "wall_s" -> Json.num(p.wall),
    "ops" -> Json.obj(p.ops.map { case (n, r) => n -> r.fold(Json.str, Json.num) })))

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val data = o("data")
    val warm = o("warm")
    val work = o("work")
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cores = o("cores").toInt
    val seed = o("seed").toLong
    val probe = o("probe")
    new File(work).mkdirs()

    val isEtl = workload == "etl_pipeline"
    val names = workload match {
      case "kernel_queries" => kernelQueries
      case "lake_loop_queries" => lakeLoopQueries
      case "selftest" => Seq("g16_union_agg", "g15_overlay", failingProbe)
      case "etl_pipeline" => Seq.empty
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    def opsFor(s: SparkSession, dir: String, out: String): Seq[Op] =
      if (isEtl) etlOps(s, readEtl(dir), out, cores) else queryOps(s, names, dir)

    val result = scala.collection.mutable.LinkedHashMap[String, String]()
    val phases = scala.collection.mutable.LinkedHashMap[String, String]()
    var phaseT0 = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = Json.num((now - phaseT0) / 1e9); phaseT0 = now
    }
    result("workload") = Json.str(workload)
    result("cores") = cores.toString
    result("sentinel_mt_pre_ms") = Json.num(Sentinel.mtMs())
    phase("sentinel")

    // set-up, three times: session start, registerAll and a first-touch
    // operation on the small warm-up input; the first is cold, the median
    // is reported
    var spark: SparkSession = null
    val setups = (0 until 3).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = newSession(cores, work)
      registerAll(spark)
      if (isEtl) {
        val (src, epsg) = readEtl(warm).sources.head
        noop(graft.operators.GeoNormalize.normalize(spark.read.parquet(src), epsg))
      } else noop(query(names.head)(spark, warm))
      (System.nanoTime() - t0) / 1e9
    }
    result("setup_s") = Json.arr(setups.map(Json.num))
    phase("setup")
    val s = spark

    // the warm-up pass: every operation once over the benchmark input,
    // writing the outputs the correctness checks read; untimed, so JIT and
    // code generation are paid before the window
    val verify = s"$work/verify"
    if (isEtl) {
      val p = runPass(etlOps(s, readEtl(data), verify, cores), None)
      result("verify_errors") = Json.obj(p.ops.collect { case (n, Left(e)) => n -> Json.str(e) })
      val merged = parquetFiles(s"$verify/merged")
      result("etl_out") = Json.str(verify)
      result("hilbert_sorted_files") = Json.obj(
        (parquetFiles(s"$verify/conv") ++ merged).map(f => f -> hilbertSorted(s, f).toString))
      heatmap(s, merged).coalesce(1).write.mode("overwrite").parquet(s"$verify/heatmap")
    } else {
      val oracle = graft.SparkEntry.oracleSql
      val errs = names.flatMap { n =>
        try { query(n)(s, data).coalesce(1).write.mode("overwrite").parquet(s"$verify/$n"); None }
        catch { case e: Throwable => Some(n -> Json.str(e.toString.take(300))) }
      }
      result("verify_errors") = Json.obj(errs)
      result("oracle_sql") = Json.obj(names.flatMap(n => oracle.get(n).map(q => n -> Json.str(q))))
    }
    phase("warmup_verify")

    // the timed window: untraced passes over the benchmark input; a traced
    // run replaces it with one traced and one untraced pass
    def passDir(tag: String, i: Int) = s"$work/$tag$i"
    def timedPass(tag: String, tracer: Option[Tracer])(i: Int): Pass = {
      if (i > 0) deleteTree(passDir(tag, i - 1))
      runPass(opsFor(s, data, passDir(tag, i)), tracer)
    }
    if (trace) {
      result ++= traced(s, workload, isEtl, names, data, probe, work, cores, seed,
        (tag: String, tr: Option[Tracer]) => window(0)(timedPass(tag, tr)))
    } else {
      result("passes") = Json.arr(window(seconds)(timedPass("pass", None)).map(passJson))
    }
    phase("window")
    if (workload == "selftest") result("plans") = Json.obj(names.filter(_ != failingProbe).map { n =>
      n -> Json.obj(Seq("noop" -> Json.str(executedPlan(s, noop(query(n)(s, data)))),
        "count" -> Json.str(executedPlan(s, query(n)(s, data).count()))))
    })

    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    result("retained_heap_mb") = Json.num((rt.totalMemory - rt.freeMemory) / 1048576.0)
    result("sentinel_mt_post_ms") = Json.num(Sentinel.mtMs())
    phase("end")
    result("phases") = Json.obj(phases)
    Files.writeString(Paths.get(s"$work/result.json"), Json.obj(result))
    s.stop()
  }

  /** The final executed plan of the last query execution `action` runs. */
  def executedPlan(s: SparkSession, action: => Any): String = {
    var last = ""
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        last = qe.executedPlan.toString
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(l)
    try {
      action
      org.apache.spark.graft.CoreInternals.waitListenerBusEmpty(s.sparkContext, 10000)
    } finally s.listenerManager.unregister(l)
    last
  }

  /** True when the Hilbert keys of one parquet file never decrease in
    * file order (a single small file is read by one task, in order). */
  def hilbertSorted(s: SparkSession, file: String): Boolean = {
    val ks = s.read.parquet(file).select(hilbert_of_geom(col("geom"))).collect().map(_.getLong(0))
    ks.indices.drop(1).forall(i => ks(i - 1) <= ks(i))
  }

  /** The traced run: the same window with spans, job groups and listeners
    * attached, then the layer probes. Returns result entries. */
  def traced(s: SparkSession, workload: String, isEtl: Boolean, names: Seq[String],
      data: String, probe: String, work: String, cores: Int, seed: Long,
      runWindow: (String, Option[Tracer]) => Seq[Pass]): Seq[(String, String)] = {
    val sc = s.sparkContext
    val tr = new Tracer(sc)
    def attach(on: Boolean): Unit =
      if (on) { sc.addSparkListener(tr); s.listenerManager.register(tr) }
      else { sc.removeSparkListener(tr); s.listenerManager.unregister(tr) }
    def drain(): Unit = org.apache.spark.graft.CoreInternals.waitListenerBusEmpty(sc, 10000)
    val out = Seq.newBuilder[(String, String)]
    attach(true)
    drain(); tr.reset()
    val t0 = System.nanoTime()
    val tp = tr.span("workload", workload)(runWindow("traced", Some(tr)))
    val tracedWall = (System.nanoTime() - t0) / 1e9
    drain()
    val st = tr.stage
    val pl = tr.plan
    // an untraced window right after the traced one, so the overhead is
    // not confounded with the JIT still warming during the first window
    attach(false)
    val after = runWindow("untraced", None)
    attach(true)
    tr.reset()
    val n = tp.size.toDouble
    val layer = scala.collection.mutable.LinkedHashMap[String, Double](
      "stage.cpu_s" -> st.cpuNs / 1e9 / n,
      "stage.run_s" -> st.runMs / 1e3 / n,
      "stage.gc_s" -> st.gcMs / 1e3 / n,
      "stage.tasks" -> st.tasks / n,
      "stage.shuffle_read_bytes" -> st.shuffleRead / n,
      "stage.shuffle_write_bytes" -> st.shuffleWrite / n,
      "stage.spill_bytes" -> st.spill / n,
      "stage.input_bytes" -> st.input / n,
      "stage.output_bytes" -> st.output / n,
      "stage.core_util" -> st.runMs / 1e3 / (tracedWall * cores),
      "plan.jobs" -> st.jobs / n,
      "plan.stages" -> st.stages / n,
      "plan.exchanges" -> pl.exchanges / n,
      "plan.broadcasts" -> pl.broadcasts / n,
      "plan.codegen_frac" -> (if (pl.operators == 0) 0.0 else pl.codegenOperators.toDouble / pl.operators),
      "trace.overhead_s" -> (median(tp.map(_.wall)) - median(after.map(_.wall))))
    out += "traced_passes" -> Json.arr(tp.map(passJson))
    out += "passes" -> Json.arr(after.map(passJson))

    layer ++= Layers.kernels(seed)
    layer ++= Layers.functions(s, seed)
    layer ++= Layers.operators(s, tr, readEtl(probe), s"$work/operators", cores, drain _)
    out += "layers" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) })
    attach(false)
    Files.write(Paths.get(s"$work/spans.jsonl"), tr.spansJson.asJava)
    out.result()
  }
}

/** Saturating multi-core host sentinel, after graft.Bench.sentinelMtMs:
  * the same serial xorshift-FNV chain on every core at once, wall ms for
  * all to finish. Recorded before and after a run so a noisy host band
  * can be recognised; never used to rescale a metric. */
object Sentinel {
  def mtMs(): Double = {
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val threads = (0 until n).map { ti =>
      val th = new Thread(() => {
        var h = 0x9e3779b97f4a7c15L + ti
        var i = 0
        while (i < 100000000) { h = (h ^ (h >>> 27)) * 0x100000001b3L; h ^= i; i += 1 }
        if (h == 42L) print("")
      })
      th.start(); th
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }
}
