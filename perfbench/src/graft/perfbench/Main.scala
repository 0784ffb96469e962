package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** One workload run of the benchmark, in one JVM.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --out FILE [--spans FILE] [--data DIR] [--queries a,b]`. Every path the
  * run writes is under `--work` (plus the two output files). The result
  * file holds the operation counts, the output checks, the end-to-end
  * metrics and, for a traced run, the per-layer metrics; `run.py` turns it
  * into the benchmark's result line.
  */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: String,
      out: String,
      spans: Option[String],
      data: Option[String],
      queries: Seq[String])

  val Workloads = Seq("cdc_ingest", "lake_serve", "query_sweep")
  /** local slots of the session */
  val Cores = 4
  /** set-ups per run; `setup_s` is their median */
  val SetupReps = 3

  def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = need("work"),
      out = need("out"),
      spans = kv.get("spans"),
      data = kv.get("data"),
      queries = kv.get("queries").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil))
    require(Workloads.contains(o.workload),
      s"unknown workload '${o.workload}' (${Workloads.mkString("|")})")
    o
  }

  /** The session `graft.Bench` builds, at [[Cores]] local slots. */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    Stats.phase(s"${o.workload} seed ${o.seed}")
    // unknown query names fail here, before any session exists
    if (o.workload == "query_sweep") QuerySweep.validate(o.queries)
    val spark = session(o)
    Stats.phase("session up")
    val trace = if (o.trace) Trace.attach(spark) else Trace.off
    val r = new Result
    o.workload match {
      case "cdc_ingest" => CdcIngest.run(spark, o, trace, r)
      case "lake_serve" => LakeServe.run(spark, o, trace, r)
      case "query_sweep" => QuerySweep.run(spark, o, trace, r)
    }
    trace.drain()
    Stats.phase("done")
    Files.write(Paths.get(o.out), r.json.getBytes(StandardCharsets.UTF_8))
    o.spans.filter(_ => trace.enabled).foreach { p =>
      trace.epochSpans()
      Files.write(Paths.get(p), trace.json.getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    Stats.phase("stopped")
  }
}

/** What one run measured and checked. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** the workload's own headline figures, printed by name beside the result */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Runs one operation; a throw counts as failed, is printed, and yields None. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        val msg = s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(400)}"
        errors += msg
        System.err.println(s"[perfbench] FAILED $msg")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name $detail")
  }

  def json: String = Stats.toJson(Map(
    "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
    "checks" -> checks, "e2e" -> e2e, "layer" -> layer,
    "named" -> named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
}

object Stats {
  private val t0 = System.nanoTime()

  /** Logs that the run reached `what` (seconds since the harness started). */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s $what")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of all regular files under `dir`. */
  def du(dir: String): Long = {
    val root = new File(dir)
    if (!root.exists()) 0L
    else Files.walk(root.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum
  }

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** `v` (maps, sequences, numbers, strings, booleans) as a JSON document. */
  def toJson(v: Any): String = mapper.writeValueAsString(v)

  /** Starts a timed window from a collected heap, so no window pays for
    * garbage the set-up left behind.
    */
  def collectBeforeWindow(): Unit = System.gc()

  /** Heap the program retains at the end of a timed window, in MB: the heap
    * in use right after a full collection, taken while everything the window
    * built (tables, results, Spark's own state) is still reachable.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Order-free digest of a result: (rows, hash), where the hash combines
    * a sum and an xor of one 64-bit row hash over the columns in name order.
    */
  final case class Digest(rows: Long, hash: Long)

  private def digestCols(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    val h = {
      val cs = df.schema.fields.toSeq.sortBy(_.name).map { f =>
        val c = col(s"`${f.name}`")
        if (f.dataType.catalogString.contains("map<")) to_json(c) else c
      }
      if (cs.isEmpty) lit(0L) else xxhash64(cs: _*)
    }
    Seq(count(lit(1)).as("n"), sum(h.bitwiseAND(0xffffffffL)).as("lo"), bit_xor(h).as("x"))
  }

  private def digestOf(m: Map[String, Any]): Digest = {
    def long(k: String): Long = m.get(k) match {
      case Some(n: java.lang.Number) => n.longValue
      case _ => 0L
    }
    Digest(long("n"), long("lo") * 31 + long("x"))
  }

  /** Runs `df` into `sink` while observing its [[Digest]] in the same job. */
  def observed(df: DataFrame, sink: DataFrame => Unit): Digest = {
    val obs = Observation()
    val cols = digestCols(df)
    sink(df.observe(obs, cols.head, cols.tail: _*))
    digestOf(obs.get)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** [[Digest]] of `df` computed by an aggregate (for expected results). */
  def digest(df: DataFrame): Digest = {
    val cols = digestCols(df)
    val row = df.agg(cols.head, cols.tail: _*).head()
    digestOf(row.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> row.get(i) }.toMap)
  }

  /** Spark counters of the spans in `ids`, per operation. */
  def sparkLayer(tr: Trace, ids: Set[Int], fromMs: Long, toMs: Long, ops: Int,
      r: Result): Unit = {
    val c = tr.counters(ids)
    val per = math.max(ops, 1).toDouble
    Seq("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
      "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes").foreach { k =>
      r.layer(s"spark.$k") = c.getOrElse(k, 0.0) / per
    }
    val wallS = math.max(toMs - fromMs, 1L) / 1e3
    r.layer("spark.slot_util") = c.getOrElse("task_run_s", 0.0) / (wallS * Main.Cores)
    r.layer("spark.driver_gap_s") = tr.idleMs(ids, fromMs, toMs) / 1e3 / per
  }
}
