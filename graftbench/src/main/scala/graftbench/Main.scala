package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: stages the seeded inputs, warms up, runs
  * the timed passes and writes raw per-op records as JSON. `run.py`
  * launches it and turns the records into metrics.
  *
  * Arguments: workload seed seconds trace(0|1) workDir outFile [record]
  */
object Main {
  /** Input sizes: documents and embeddings for the batch workload, events for the provider. */
  val Documents = 600
  val Embeddings = 500
  val Events = 100000

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args.take(6)
    val record = args.length > 6 && args(6) == "record"
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val osBean = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setup = mutable.LinkedHashMap.empty[String, Double]
    def lap(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; setup(name) = (System.nanoTime() - t0) / 1e9
    }
    setup("jvm_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    var spark: SparkSession = null
    lap("session_s") {
      spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      graft.plans.GraftOptimizations.install(spark)
    }
    val trace = new Trace(spark, traced)
    val full = s"$work/full"
    val outDir = s"$work/out"

    // Staging: the inputs, in the seed's layout for the batch workloads.
    var catalog: Catalog = null
    lap("stage_s") {
      workload match {
        case "ts_provider" =>
          val events = Data.events(Events)
          Provider.stage(spark, full, events)
          catalog = new Catalog(events)
        case _ =>
          val (docs, dFiles) = Data.layout(Data.documents(Documents), seed)
          Data.write(spark, docs, Data.documentsSchema, s"$full/documents.parquet", dFiles)
          val (embs, eFiles) = Data.layout(Data.embeddings(Embeddings), seed + 1)
          Data.write(spark, embs, Data.embeddingsSchema, s"$full/embeddings.parquet", eFiles)
      }
    }

    val noTrace = new Trace(spark, false)
    /** One op: its wall and process CPU nanoseconds, then its digest.
      * Fetching and digesting the result is not part of the op's time.
      */
    def runOp(op: Op, tr: Trace, id: Long): (Long, Long, String) = {
      val t0 = System.nanoTime()
      val cpu0 = osBean.getProcessCpuTime
      try {
        val fetch = tr.op(id, op.name, op.key)(op.run(spark, tr))
        val (ns, cpuNs) = (System.nanoTime() - t0, osBean.getProcessCpuTime - cpu0)
        val rows = fetch()
        tr.setRowsOut(id, rows.size.toLong)
        (ns, cpuNs, Digest.of(rows))
      } catch {
        case e: Throwable =>
          val digest = s"error: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          (System.nanoTime() - t0, osBean.getProcessCpuTime - cpu0, digest)
      } finally release(spark)
    }

    // Warmup: a provider is a long-lived service, so it answers one
    // request per source before timing starts. A batch job starts in a
    // fresh JVM and pays its warmup on every run, so it gets none.
    val provider = if (workload == "ts_provider") new Provider(spark, full) else null
    lap("warmup_s") {
      if (provider != null) catalog.warmup(seed).foreach(r => runOp(provider.op(r), noTrace, -1))
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // Timed passes. Untraced: passes until `seconds` have elapsed (at
    // least one). Traced: the first pass twice, so that the counts of
    // the repeat can be checked against the first.
    // A pass's wall and CPU time are the sums over its ops.
    val records = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[String]
    def passOps(p: Int): Vector[Op] = workload match {
      case "ts_provider" if record => catalog.all.map(provider.op)
      case "ts_provider" => catalog.pass(seed, if (traced) 0 else p).map(provider.op)
      case _ => Batch.ops.map(n => BatchOp(n, full, outDir))
    }
    val t0 = System.nanoTime()
    var p = 0
    while (p == 0 || (traced && p < 2) || (!traced && !record && (System.nanoTime() - t0) / 1e9 < seconds)) {
      var (wallNs, cpuNs) = (0L, 0L)
      passOps(p).zipWithIndex.foreach { case (op, i) =>
        val id = p * 1000L + i
        val (ns, opCpuNs, digest) = runOp(op, trace, id)
        wallNs += ns
        cpuNs += opCpuNs
        records += Json.obj("pass" -> p, "id" -> id, "name" -> op.name, "key" -> op.key, "ms" -> ns / 1e6, "digest" -> digest)
      }
      passes += Json.obj("wall_s" -> wallNs / 1e9, "cpu_s" -> cpuNs / 1e9)
      p += 1
    }
    spark.stop() // drains the listener bus before the trace is read

    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    val oracle =
      if (record && workload != "ts_provider")
        graft.SparkEntry.oracleSql.filter { case (k, _) => Batch.ops.contains(k) }.map { case (k, v) => k -> Json.str(v) }
      else Map.empty[String, String]
    val json = Json.obj(
      "workload" -> workload,
      "seed" -> seed,
      "cpus" -> cpus,
      "shuffle_partitions" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "setup_s" -> setupS,
      "setup_parts" -> Json.raw(Json.obj(setup.toSeq.map { case (k, v) => k -> (v: Any) }: _*)),
      "peak_rss_mb" -> hwmKb / 1024.0,
      "passes" -> Json.raw(passes.mkString("[", ",", "]")),
      "ops" -> Json.raw(records.mkString("[\n", ",\n", "]")),
      "oracle_sql" -> Json.raw(oracle.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ",", "}")),
      "trace" -> Json.raw(trace.traces.map(traceJson).mkString("[\n", ",\n", "]")),
    )
    Files.writeString(Paths.get(out), json)
  }

  /** Release what an op pinned: caches and local checkpoints. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def traceJson(t: Trace.OpTrace): String = Json.obj(
    Seq[(String, Any)](
      "id" -> t.id, "name" -> t.name, "key" -> t.key,
      "start_ms" -> t.startMs, "end_ms" -> t.endMs, "wall_ms" -> t.wallNs / 1e6,
      "spans" -> Json.raw(t.spans.map { case (l, ns) => Json.obj("layer" -> l, "ms" -> ns / 1e6) }.mkString("[", ",", "]")),
      "jobs" -> Json.raw(t.jobs.values.map(j => Json.obj("layer" -> j.layer, "start_ms" -> j.startMs, "end_ms" -> j.endMs)).mkString("[", ",", "]")),
      "stages" -> t.stages, "queries" -> t.queries, "plan_ms" -> t.planMs,
      "codegen_compiles" -> t.compiles, "codegen_ms" -> t.compileNs / 1e6, "gc_ms" -> t.gcMs, "rows_out" -> t.rowsOut,
    ) ++ t.counts.toSeq: _*
  )
}

/** Minimal JSON rendering for the raw records. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case other => str(other.toString)
  }
}
