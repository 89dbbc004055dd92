package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.GraftSession
import graft.cursor.CursorStore
import graft.functions.F
import graft.lineage.Lineage
import graft.operators.{Compact, Dedup, Upsert}
import graft.sources.Sources

/** JVM side of the benchmark. Reads a plan (java properties) written by
  * `run.py`, runs one workload through the engine's public calls and
  * writes a raw run record (JSON) for `run.py` to check and reduce.
  *
  * Nothing here aggregates: it records set-up phases, one entry per op
  * and, in a traced run, spans, Spark jobs and Catalyst phases. */
object Harness {

  private val Obj = "objects"

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)), StandardCharsets.UTF_8)
    try plan.load(in) finally in.close()
    def p(k: String): String = Option(plan.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"plan misses '$k'"))

    val workload = p("workload")
    val seconds = p("seconds").toDouble
    val traced = p("trace") == "1"
    val cores = p("cores").toInt
    val rec = new Record

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(cores)
    rec.setup("session_s", (System.currentTimeMillis() - jvmStart) / 1e3)
    val tracer = new Tracer(spark, traced)
    try {
      workload match {
        case "sync" => new SyncRun(spark, tracer, rec, plan).run(seconds)
        case "catalog" => new QueryRun(spark, tracer, rec, plan).run(seconds)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      tracer.finish()
      rec.write(Paths.get(p("out")), tracer)
    } finally {
      graft.core.Staging.reclaim(spark)
      spark.stop()
    }
  }

  /** Files under `root` (recursively) with their sizes, keyed by path. */
  def listing(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Map.empty
    else {
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** One workload op: a sync batch or a query call. */
  final case class Op(idx: Int, name: String, pass: Int, startMs: Double, endMs: Double,
                      ok: Boolean, error: String, extra: Map[String, Double] = Map.empty)

  final class Record {
    val setupPhases = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val ops = ArrayBuffer.empty[Op]
    val info = ArrayBuffer.empty[(String, String)]
    var windowStartMs = 0.0
    var gcMs = 0.0
    /** A set-up phase; a repeated phase keeps every repetition. */
    def setup(name: String, s: Double): Unit =
      setupPhases.getOrElseUpdate(name, ArrayBuffer.empty) += s

    def write(path: Path, tracer: Tracer): Unit = {
      val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
        StandardCharsets.UTF_8)
      val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toDouble)
        .getOrElse(0.0)
      val sb = new StringBuilder("{")
      sb ++= s""""setup":${Json.obj(setupPhases.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") })}"""
      sb ++= s""","info":${Json.obj(info.map { case (k, v) => k -> Json.str(v) })}"""
      sb ++= s""","gc_ms":${Json.num(gcMs)},"vm_hwm_kb":${Json.num(hwmKb)}"""
      sb ++= ",\"ops\":" + ops.map { o =>
        Json.obj(Seq("idx" -> Json.num(o.idx), "name" -> Json.str(o.name),
          "pass" -> Json.num(o.pass), "start_ms" -> Json.num(o.startMs),
          "end_ms" -> Json.num(o.endMs), "ok" -> o.ok.toString,
          "error" -> Json.str(o.error)) ++ o.extra.map { case (k, v) => k -> Json.num(v) })
      }.mkString("[", ",", "]")
      tracer.appendJson(sb)
      sb ++= "}\n"
      Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Times `body` as one op; a throw is recorded as a failed op. */
  def timedOp(rec: Record, tracer: Tracer, idx: Int, name: String, pass: Int)
             (body: => Unit): Op = {
    tracer.beginOp(idx)
    val t0 = tracer.nowMs()
    val err =
      try { tracer.span("op")(body); "" }
      catch { case e: Throwable => (e.getClass.getSimpleName + ": " + e.getMessage).take(300) }
    val op = Op(idx, name, pass, t0, tracer.nowMs(), err.isEmpty, err)
    tracer.endOp()
    rec.ops += op
    op
  }

  /** Runs whole passes (at most `limit`): the first always, each further
    * one only while it is expected to end within `seconds` of the window
    * start, judged by the previous pass's wall time. */
  def passes(tracer: Tracer, rec: Record, seconds: Double, limit: Int)(body: Int => Unit): Unit = {
    var pass = 0
    var last = 0.0
    while (pass < limit &&
           (pass == 0 || tracer.nowMs() - rec.windowStartMs + last <= seconds * 1e3)) {
      val t0 = tracer.nowMs()
      body(pass)
      last = tracer.nowMs() - t0
      pass += 1
    }
  }

  def gcMillis(): Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.toDouble).sum

  /** The paper's incremental loop over landed JSON-lines change batches. */
  final class SyncRun(spark: SparkSession, tracer: Tracer, rec: Record,
                      plan: java.util.Properties) {
    private val land = plan.getProperty("land")
    private val state = plan.getProperty("state")
    private val setupReps = plan.getProperty("setup_reps").toInt
    private val passBatches = plan.getProperty("pass_batches").toInt
    private val warmBatches = plan.getProperty("warm_batches").toInt
    private val batches = new File(land).listFiles()
      .filter(_.getName.startsWith("batch-")).map(_.getPath).sorted.toSeq

    private val spillSchema = StructType(Seq(
      StructField("id", LongType), StructField("createdAt", StringType),
      StructField("updatedAt", StringType), StructField("properties", StringType),
      StructField("archived", BooleanType)))

    /** The landed spill, timestamps normalised from the three wire formats. */
    private def landed(path: String): DataFrame =
      tracer.span("sources.json")(Sources.json(spark, path, spillSchema))
        .withColumn("createdAt", F.parseHubTs(col("createdAt")))
        .withColumn("updatedAt", F.parseHubTs(col("updatedAt")))

    private def upsert(snap: String, df: DataFrame): Unit =
      tracer.span("operators.upsert") {
        Upsert.partitioned(snap, df, Seq("id"), "updatedAt", "c_year",
          year(col("createdAt")))
      }

    private def advance(store: CursorStore, df: DataFrame, runId: String): Unit =
      tracer.span("cursor.advance") {
        val hi = df.agg(max(col("updatedAt"))).head().getTimestamp(0)
        store.advance(Obj, hi, runId, new Timestamp(System.currentTimeMillis()))
      }

    /** Bootstrap one snapshot + cursor table pair under `root`. */
    private def bootstrap(root: String): Unit = {
      val src = landed(s"$land/bootstrap.jsonl")
        .transform(Lineage.stamp("bootstrap", Timestamp.valueOf("1999-01-01 00:00:00")))
      upsert(s"$root/snapshot", src)
      advance(new CursorStore(spark, s"$root/cursor"), src, "bootstrap")
    }

    def run(seconds: Double): Unit = {
      // Set-up is repeated into scratch roots so its median is steady; the
      // last repetition's state is the one the batches merge into.
      val roots = (1 to setupReps).map(i => s"$state/root-$i")
      roots.foreach { root =>
        val t0 = System.nanoTime()
        tracer.span("setup.bootstrap")(bootstrap(root))
        rec.setup("bootstrap_s", (System.nanoTime() - t0) / 1e9)
      }
      roots.init.foreach(r => org.apache.commons.io.FileUtils.deleteDirectory(new File(r)))
      val root = roots.last
      val snap = s"$root/snapshot"
      val store = new CursorStore(spark, s"$root/cursor")
      rec.info += "snapshot" -> snap
      rec.info += "warm_batches" -> warmBatches.toString

      /** One batch of the loop; `compacting` also compacts the snapshot. */
      def merge(batch: String, runId: String, compacting: Boolean): Unit = {
        val cursor = tracer.span("cursor.latest")(store.latest(Obj)).get
        val changed = landed(batch)
          .filter(col("updatedAt") >= lit(cursor))
          .transform(df => Dedup.latestWins(df, Seq("id"), "updatedAt"))
          .transform(Lineage.stamp(runId, new Timestamp(System.currentTimeMillis())))
        tracer.counted("operators.upsert", snap)(upsert(snap, changed))
        if (compacting) tracer.counted("operators.compact", snap) {
          tracer.span("operators.compact") {
            Compact.partitionsFromManifests(spark, snap, maxFilesPerPartition = 2).size
          }
        }
        advance(store, changed, runId)
        tracer.count("cursor.table_files",
          listing(s"$root/cursor").keys.count(_.endsWith(".parquet")).toDouble)
      }

      // warm-up: the first batches merge untimed, so the timed batches run
      // compiled merge code; the check replays them with the others
      val (warm, timed) = batches.splitAt(warmBatches)
      val t0 = System.nanoTime()
      tracer.span("setup.warmup")(warm.zipWithIndex.foreach { case (b, i) =>
        merge(b, s"warm-$i", compacting = false) })
      rec.setup("warmup_s", (System.nanoTime() - t0) / 1e9)

      val gc0 = gcMillis()
      rec.windowStartMs = tracer.nowMs()
      var before = listing(snap)
      val passes = timed.grouped(passBatches).toSeq.filter(_.size == passBatches)
      Harness.passes(tracer, rec, seconds, passes.size) { pass =>
        passes(pass).zipWithIndex.foreach { case (batch, k) =>
          val i = pass * passBatches + k
          // every pass ends with a compaction batch
          val op = timedOp(rec, tracer, i, new File(batch).getName, pass) {
            merge(batch, s"batch-$i", compacting = k == passBatches - 1)
          }
          // bytes and files this op left under the snapshot (merge + compaction)
          val after = listing(snap)
          val fresh = after.filter { case (f, _) => !before.contains(f) }
          rec.ops(rec.ops.size - 1) = op.copy(extra = Map(
            "bytes_written" -> fresh.values.sum.toDouble,
            "files_written" -> fresh.size.toDouble))
          before = after
        }
      }
      rec.gcMs = gcMillis() - gc0
      val fin = listing(snap).filter(_._1.endsWith(".parquet"))
      rec.info += "snapshot_files" -> fin.size.toString
      rec.info += "snapshot_bytes" -> fin.values.sum.toString
    }
  }

  /** The catalog: every listed query once per pass, in seeded order, each
    * materialised by writing its result for the output check. */
  final class QueryRun(spark: SparkSession, tracer: Tracer, rec: Record,
                       plan: java.util.Properties) {
    private val data = plan.getProperty("data")
    private val results = plan.getProperty("results")
    private val seed = plan.getProperty("seed").toLong
    private val registry = SparkEntry.queries

    /** The registered query numbered like `id` ("q7" finds "q07_..."). */
    private def resolve(id: String): String =
      registry.keys.find(_.takeWhile(_ != '_').drop(1).toInt == id.drop(1).toInt)
        .getOrElse(throw new IllegalArgumentException(s"no query '$id'"))

    private val names: Seq[String] = {
      val chosen = plan.getProperty("queries").split(",").toSeq.map(resolve)
      new scala.util.Random(seed).shuffle(chosen)
    }

    private def call(name: String, dir: String, out: String): Unit = {
      val df = tracer.span("queries.build")(registry(name)(spark, dir))
      tracer.span("queries.action")(df.write.mode("overwrite").parquet(out))
    }

    def run(seconds: Double): Unit = {
      // warm-up: a fixed set of queries outside the timed set, untimed, so
      // the timed ops run in a JVM whose Spark paths are compiled; each
      // timed query still pays its own first-call planning and codegen
      val warmups = plan.getProperty("warm_queries").split(",").map(resolve)
      val t0 = System.nanoTime()
      tracer.span("setup.warmup") {
        warmups.foreach { n =>
          call(n, data, s"$results/warm")
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        }
      }
      rec.setup("warmup_s", (System.nanoTime() - t0) / 1e9)
      val oracle = SparkEntry.oracleSql
      rec.info += "results" -> results
      rec.info ++= names.flatMap(n => oracle.get(n).map(sql => s"oracle:$n" -> sql))

      val gc0 = gcMillis()
      rec.windowStartMs = tracer.nowMs()
      Harness.passes(tracer, rec, seconds, Int.MaxValue) { pass =>
        names.zipWithIndex.foreach { case (n, k) =>
          val idx = pass * names.size + k
          timedOp(rec, tracer, idx, n, pass)(call(n, data, s"$results/$idx"))
          // between-op hygiene, outside the timed op: drop staged blocks
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        }
      }
      rec.gcMs = gcMillis() - gc0
    }
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
