package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Gen
import graft.lake.LakeTable
import graft.lake.LakeTable.ScanReport

/** `lake_serve`: a bulk-loaded table serving small merges and reads.
  *
  * Set-up bulk-loads a generated base log (`LakeTable.bulkLoad`), three
  * times into fresh tables, and serves the last; a small table of its own
  * is then warmed through one plain and one compacting epoch. Each timed
  * epoch is one `LakeTable.merge` of the next slice of the same generated
  * stream followed by four reads: a hot-key `readKey`, a
  * `scanWhere` on the epoch's `ts` window, a full `read()` and
  * `readChangesSince` the previous version. No streaming harness runs, so
  * the per-commit costs of the lake layer (manifest load and commit) weigh
  * more than in `cdc_ingest`, and reads share the run with writes.
  */
object LakeServe {
  val BaseEvents = 200000L
  val WarmBaseEvents = 60000L
  val EpochEvents = 25000L
  val MaxEpochs = 16
  /** compaction cycles per timed window at least: a median over two cycles'
    * epochs is steadier than over one
    */
  val MinCycles = 2
  val Buckets = 4
  val FileRows = 65536L
  /** each merge adds one delta file per bucket, so every third merge
    * compacts; the ratio rule is set out of reach for these sizes
    */
  val MaxDeltaFiles = 3
  val DeltaRatio = 3.0
  val Keys = Seq("conv_id", "turn_idx")
  val HotKey = Seq[Any]("conv-00000000", 0)

  /** The stream every table of the run is built from: the base log is its
    * first `BaseEvents` events, epoch k the next `EpochEvents` after that.
    */
  def genConfig(seed: Long): Gen.GenConfig =
    Gen.GenConfig(seed = seed, nEvents = BaseEvents + MaxEpochs * EpochEvents,
      nConvs = BaseEvents / 100, partitions = 2 * Main.Cores)

  private def events(spark: SparkSession, cfg: Gen.GenConfig, lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1L, cfg.partitions).map(i => Gen.eventAt(cfg, i)).toDF()
  }

  /** Independent last-writer-wins resolution of change events: one
    * max-by-(lsn, ts) aggregate per key, tombstones kept.
    */
  private def lwwByKey(ev: DataFrame): DataFrame = {
    // struct ordering is field by field, so the max is the (lsn, ts) winner
    val payload = Seq("lsn", "ts", "op", "role", "text", "tool")
    ev.groupBy(Keys.map(col): _*)
      .agg(max(struct(payload.map(col): _*)).as("w"))
      .select((Keys.map(col) ++ payload.map(c => col(s"w.$c").as(c))): _*)
  }

  private def tsWindow(cfg: Gen.GenConfig, lo: Long, hi: Long) =
    col("ts") >= lit(new Timestamp((cfg.baseEpochSec + lo) * 1000L)) &&
      col("ts") < lit(new Timestamp((cfg.baseEpochSec + hi) * 1000L))

  private val hotKeyCond = Keys.zip(HotKey).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)

  /** The change-read columns compared with the expected change set. */
  private def changeCols(df: DataFrame): DataFrame =
    df.select((Keys.map(col) :+ col(LakeTable.LsnCol).as("lsn") :+ col(LakeTable.OpCol).as("op")): _*)

  /** A table with this workload's layout; compaction is driven by delta
    * depth (every `MaxDeltaFiles` merges), not by the delta/base row ratio.
    */
  private def newTable(spark: SparkSession, root: String): LakeTable =
    LakeTable.create(spark, root, Keys, numBuckets = Buckets, deltaRatio = DeltaRatio,
      maxDeltaFiles = MaxDeltaFiles, targetFileRows = Some(FileRows))

  def run(spark: SparkSession, o: Main.Opts, tr: Trace, r: Result): Unit = {
    import Stats._
    val cfg = genConfig(o.seed)

    // (call seconds, compacted buckets, MergeStats.seconds)
    val merges = mutable.ArrayBuffer.empty[(Double, Int, Double)]
    val reads = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val epochTimes = mutable.ArrayBuffer.empty[Double]
    val rangeKept = mutable.ArrayBuffer.empty[Double]
    val pointKept = mutable.ArrayBuffer.empty[Double]
    val snapLoads = mutable.ArrayBuffer.empty[Double]
    // read digests per epoch, observed inside the timed reads themselves
    val seen = mutable.Map.empty[Int, Map[String, Digest]]
    val epochDirs = mutable.ArrayBuffer.empty[String]

    /** Epoch `k` on table `t`: writes its input under `dir` (untimed),
      * merges it and runs the four reads, each in its own span and timed;
      * None if an operation threw.
      */
    def epoch(t: LakeTable, k: Int, dir: String)
        : Option[(Map[String, Double], Map[String, Digest], Int, Double, ScanReport)] = {
      val lo = BaseEvents + k * EpochEvents
      val hi = lo + EpochEvents
      events(spark, cfg, lo, hi).write.parquet(dir)
      val prev = t.currentSnapshot().version
      val secs = mutable.LinkedHashMap.empty[String, Double]
      def op[T](name: String)(body: => T): Option[T] =
        r.attempt(s"epoch $k $name")(tr.span(name)(timed(body))).map { case (v, s) =>
          secs(name) = s
          v
        }
      for {
        st <- op("merge")(t.merge(spark.read.parquet(dir), epoch = k + 1L))
        point <- op("read.point")(observed(t.readKey(HotKey), noop))
        (rep, range) <- op("read.range") {
          val rep = t.scanWhere(tsWindow(cfg, lo, hi))
          (rep, observed(rep.df, noop))
        }
        full <- op("read.full")(observed(t.read(), noop))
        changes <- op("read.changes")(observed(changeCols(t.readChangesSince(prev)), noop))
      } yield (secs.toMap,
        Map("point" -> point, "range" -> range, "full" -> full, "changes" -> changes),
        st.compactedBuckets, st.seconds, rep)
    }

    // -- set-up, SetupReps times: the base log and its bulk load into a
    // fresh table; the last table is the one served
    val bases = (0 until Main.SetupReps).map { i =>
      val (dir, t) = (s"${o.work}/base$i", newTable(spark, s"${o.work}/lake$i"))
      val (_, secs) = timed {
        events(spark, cfg, 0L, BaseEvents).write.parquet(dir)
        t.bulkLoad(spark.read.parquet(dir), epoch = 0L)
      }
      (dir, t, secs)
    }
    r.e2e("setup_s") = median(bases.map(_._3))
    val (baseDir, table, _) = bases.last
    val setupBytes = du(s"${table.root}/data").toDouble

    // -- warm-up on a small table of its own that compacts every second
    // merge: one plain and one compacting epoch, so both merge paths and the
    // reads over delta files are JIT-warm
    val warm = LakeTable.create(spark, s"${o.work}/warm", Keys, numBuckets = Buckets,
      deltaRatio = DeltaRatio, maxDeltaFiles = 2, targetFileRows = Some(FileRows))
    warm.bulkLoad(events(spark, cfg, 0L, WarmBaseEvents), epoch = 0L)
    var w = 0
    while (w < MaxDeltaFiles && !epoch(warm, w, s"${o.work}/warm-epoch$w").exists(_._3 > 0))
      w += 1
    phase("set-up done")

    // -- timed: epochs until the seconds (of timed work) are spent, at least
    // MinCycles compactions ran and the last epoch compacted, so every window
    // is whole compaction cycles
    collectBeforeWindow()
    val fromMs = System.currentTimeMillis()
    var elapsed = 0.0
    var cycles = 0
    var cycleDone = false
    var k = 0
    tr.span("timed") {
      while (k < MaxEpochs && (k == 0 || elapsed < o.seconds || cycles < MinCycles || !cycleDone)) {
        val dir = s"${o.work}/epoch$k"
        epochDirs += dir
        val (done, wallS) = timed(epoch(table, k, dir))
        done.foreach { case (secs, digests, compacted, statS, rep) =>
          secs.foreach { case (n, s) => reads.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s }
          merges += ((secs("merge"), compacted, statS))
          rangeKept += rep.filesKept.toDouble / math.max(rep.filesTotal, 1)
          epochTimes += secs.values.sum
          seen(k) = digests
        }
        cycleDone = done.exists(_._3 > 0)
        if (cycleDone) cycles += 1
        elapsed += done.map(_._1.values.sum).getOrElse(wallS)
        if (tr.enabled) {
          snapLoads += timed(table.currentSnapshot())._2
          pointKept += table.scanWhere(hotKeyCond).filesKept.toDouble
        }
        k += 1
      }
    }
    val toMs = System.currentTimeMillis()
    phase("timed window done")
    r.e2e("heap_retained_mb") = retainedHeapMb()
    // -- checks: the reads of the first epoch, the first compacting epoch
    // and the last epoch against the recomputation from the input files
    val timedEpochs = seen.keys.toSeq.sorted
    val firstCompacting = timedEpochs.zip(merges).collectFirst { case (e, m) if m._2 > 0 => e }
    r.check("compacting_epoch_ran", firstCompacting.isDefined, "no timed epoch compacted")
    // the recomputed state (tombstones kept) advances from check to check
    var state: Option[DataFrame] = None
    var applied = -1
    (timedEpochs.headOption ++ firstCompacting ++ timedEpochs.lastOption).toSeq.distinct.sorted.foreach { e =>
      val lo = BaseEvents + e * EpochEvents
      val newInput = spark.read.parquet(((if (applied < 0) Seq(baseDir) else Nil) ++
        epochDirs.slice(applied + 1, e + 1)).toSeq: _*)
      val lww = lwwByKey(state.fold(newInput)(_.unionByName(newInput))).cache()
      lww.count() // materialized before the state it was built from is dropped
      state.foreach(_.unpersist())
      state = Some(lww)
      applied = e
      val want = lww.where(col("op") =!= "D").drop("op", "lsn")
      val expect = Map(
        "full" -> digest(want),
        "range" -> digest(want.where(tsWindow(cfg, lo, lo + EpochEvents))),
        "point" -> digest(want.where(hotKeyCond)),
        "changes" -> digest(lwwByKey(spark.read.parquet(epochDirs(e))).select(
          (Keys :+ "lsn" :+ "op").map(col): _*)))
      phase(s"checked epoch $e")
      val got = seen.getOrElse(e, Map.empty[String, Digest])
      expect.foreach { case (read, d) =>
        r.check(s"${read}_read_equals_expected", got.get(read).contains(d),
          s"epoch $e: read ${got.get(read)}, expected $d")
      }
    }
    state.foreach(_.unpersist())
    phase("checks done")

    val epochsDone = epochTimes.size
    r.e2e("rate_per_s") = if (epochTimes.nonEmpty) epochsDone * EpochEvents / epochTimes.sum else 0.0
    r.e2e("op_p50_s") = median(epochTimes.toSeq)
    def p50(n: String) = median(reads.getOrElse(n, mutable.ArrayBuffer.empty[Double]).toSeq)
    val mergeS = merges.map(_._1).toSeq
    r.named("merge_p50_s") = (median(mergeS), "s")
    r.named("merge_mean_s") = (mean(mergeS), "s")
    r.named("point_read_p50_s") = (p50("read.point"), "s")
    r.named("range_read_p50_s") = (p50("read.range"), "s")
    r.named("full_read_p50_s") = (p50("read.full"), "s")
    r.named("changes_read_p50_s") = (p50("read.changes"), "s")
    r.named("epochs") = (epochsDone.toDouble, "count")

    if (tr.enabled) {
      tr.drain()
      r.layer("lake.merge_p50_s") = median(mergeS)
      r.layer("lake.merge_mean_s") = mean(mergeS)
      r.layer("lake.point_read_p50_s") = p50("read.point")
      r.layer("lake.range_read_p50_s") = p50("read.range")
      r.layer("lake.full_read_p50_s") = p50("read.full")
      r.layer("lake.changes_read_p50_s") = p50("read.changes")
      r.layer("lake.range_files_kept_ratio") = mean(rangeKept.toSeq)
      r.layer("lake.point_files_kept") = mean(pointKept.toSeq)
      LakeLayers.writes(Seq(table), r, firstEpoch = 1L, setupBytes = setupBytes)
      r.layer("lake.post_merge_s") = mean(merges.map(m => m._1 - m._3).toSeq)
      r.layer("lake.snapshot_load_s") = median(snapLoads.toSeq)
      r.layer("lake.manifest_bytes") = LakeLayers.manifestBytes(table)
      val ids = tr.subtree(tr.named("timed").head.id)
      sparkLayer(tr, ids, fromMs, toMs, epochsDone, r)
    }
  }
}
