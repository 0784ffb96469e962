package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `query_sweep`: the `SparkEntry.queries` operators over generated
  * star-schema, event, document and embedding tables, each forced end to
  * end through the `noop` sink. Three warm passes (fixture staging, JIT)
  * are set-up; timed passes in a fixed order follow until the seconds are
  * spent. Every execution also observes its row count and an order-free
  * row hash, in the same job, so each timed pass is checked against the
  * warm pass.
  */
object QuerySweep {
  /** two timed passes at least, so each query's time is a median of two */
  val MinPasses = 2
  val MaxPasses = 50

  /** Families by name prefix; `q_`, `r_`, `c_` and `f_` queries are `misc`. */
  val Families = Seq("cdc", "d", "ta", "tr", "sim", "mm", "s", "t", "misc")
  def family(name: String): String = name.takeWhile(_ != '_') match {
    case f if Families.contains(f) => f
    case _ => "misc"
  }

  /** The default sweep: ROADMAP-named leaves plus at least one query of every
    * family, so the engine, pipeline and sources modules all run; sized so
    * three warm passes and two timed passes fit one run.
    */
  val Sweep = Seq("cdc_envelope", "d_simhash_pairs", "mm_features",
    "q_jobspec_pipeline", "s_offset_split", "sim_topk", "t_chain", "ta_pii", "tr_stitch")

  def validate(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
  }

  /** Runs query `name` to the noop sink, or, with `dumpTo`, to a parquet
    * file there in the layout graft.Verify writes and scripts/crosscheck.py
    * reads; returns its digest, observed in the same job.
    */
  def execute(spark: SparkSession, name: String, dir: String,
      dumpTo: Option[String] = None): Stats.Digest =
    Stats.observed(SparkEntry.queries(name)(spark, dir), dumpTo match {
      case Some(out) => _.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      case None => Stats.noop
    })

  def run(spark: SparkSession, o: Main.Opts, tr: Trace, r: Result): Unit = {
    import Stats._
    val dir = o.data.getOrElse(throw new IllegalArgumentException("query_sweep needs --data"))
    val names = if (o.queries.nonEmpty) o.queries else Sweep
    val dump = s"${o.work}/oracle"

    // -- set-up, SetupReps times: a warm pass over a fresh alias of the data
    // directory, so SparkEntry stages its per-directory fixtures anew each
    // time (the first pass also warms the JIT). The first pass's outputs go
    // to parquet for the DuckDB oracle check, and its (rows, hash) are the
    // reference for every later pass; timed passes use the last alias.
    val ref = mutable.Map.empty[String, Stats.Digest]
    val aliases = (0 until Main.SetupReps).map { i =>
      val a = Paths.get(s"${o.work}/data-alias$i")
      Files.createSymbolicLink(a, Paths.get(dir).toAbsolutePath)
      a.toString
    }
    val setups = aliases.zipWithIndex.map { case (alias, i) =>
      timed(names.foreach { n =>
        r.attempt(s"set-up $i $n")(tr.span(s"warm.$n")(
          execute(spark, n, alias, if (i == 0) Some(dump) else None))).foreach { out =>
          if (i == 0) ref(n) = out
          else r.check("setup_output_equals_first", ref.get(n).contains(out),
            s"$n set-up $i: got $out, first ${ref.get(n)}")
        }
      })._2
    }
    writeOracleSql(names, dump)
    r.e2e("setup_s") = median(setups)
    val data = aliases.last
    phase("set-up done")

    // -- timed passes
    collectBeforeWindow()
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    // seconds of each pass in which every query succeeded
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val fromMs = System.currentTimeMillis()
    var elapsed = 0.0
    var passes = 0
    tr.span("timed") {
      while (passes < MaxPasses && (passes < MinPasses || elapsed < o.seconds)) {
        val secs = names.flatMap { n =>
          r.attempt(s"pass $passes $n")(tr.span(s"query.$n")(timed(execute(spark, n, data))))
            .map { case (out, s) =>
              elapsed += s
              times.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
              r.check("pass_output_equals_warm", ref.get(n).contains(out),
                s"$n pass $passes: got $out, warm ${ref.get(n)}")
              s
            }
        }
        if (secs.size == names.size) passTimes += secs.sum
        passes += 1
      }
    }
    val toMs = System.currentTimeMillis()
    phase("timed window done")
    r.e2e("heap_retained_mb") = retainedHeapMb()
    val med = times.map { case (n, ts) => n -> median(ts.toSeq) }.toMap
    val executed = times.values.map(_.size).sum
    r.e2e("rate_per_s") = if (elapsed > 0) executed / elapsed else 0.0
    r.e2e("op_p50_s") = median(passTimes.toSeq)
    val sweepS = med.values.sum
    r.named("sweep_s") = (sweepS, "s")
    r.named("query_geomean_s") = (geomean(med.values.toSeq), "s")
    r.named("passes") = (passes.toDouble, "count")
    r.check("all_queries_timed", names.forall(med.contains),
      s"untimed: ${names.filterNot(med.contains).mkString(",")}")

    if (tr.enabled) {
      tr.drain()
      r.layer("query.sweep_s") = sweepS
      r.layer("query.geomean_s") = geomean(med.values.toSeq)
      val per = math.max(passes, 1).toDouble
      val bySpan = tr.named("timed").headOption.toSeq.flatMap(t => tr.subtree(t.id))
      val counters = names.map { n =>
        n -> tr.counters(tr.named(s"query.$n").map(_.id).toSet.intersect(bySpan.toSet))
      }.toMap
      Families.foreach { f =>
        val members = names.filter(family(_) == f)
        r.layer(s"query.${f}_s") = members.flatMap(med.get).sum
        r.layer(s"query.${f}_jobs") = members.map(n => counters(n).getOrElse("jobs", 0.0)).sum / per
        r.layer(s"query.${f}_shuffle_bytes") =
          members.map(n => counters(n).getOrElse("shuffle_write_bytes", 0.0)).sum / per
      }
      Sweep.foreach(n => r.layer(s"query.${n}_s") = med.getOrElse(n, 0.0))
      sparkLayer(tr, bySpan.toSet, fromMs, toMs, passes, r)
    }
  }

  /** The oracle SQL of `names`, as graft.Verify writes it. */
  private def writeOracleSql(names: Seq[String], dir: String): Unit = {
    val sql = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.write(Paths.get(s"$dir/oracle_sql.json"),
      Stats.toJson(sql).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
