package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Gen
import graft.engine.cdc.CdcPipeline
import graft.lake.{LakeTable, Parity}

/** `cdc_ingest`: a backlog drain. A generated change log (Gen defaults:
  * Zipf-hot `conv_id`, nConvs = n/100, 2% re-delivered duplicates, 5%
  * deletes, `tool` arriving late) is replayed by `CdcPipeline.replayAll`
  * into a fresh bucketed lake table, in fixed-size epochs. Replays of the
  * same log into new tables repeat until the run's seconds are spent.
  */
object CdcIngest {
  val Events = 180000L
  val Epochs = 6
  /** the log is written as 3 chunks of 4 segment files; each epoch takes 2 */
  val Chunks = 3
  val FilesPerChunk = 4
  val FilesPerEpoch = 2
  val Buckets = 4
  val MaxReplays = 50
  val Keys = Seq("conv_id", "turn_idx")

  def run(spark: SparkSession, o: Main.Opts, tr: Trace, r: Result): Unit = {
    import Stats._
    val cfg = Gen.GenConfig(seed = o.seed, nEvents = Events, nConvs = Events / 100,
      partitions = 2 * Main.Cores)

    // -- set-up, SetupReps times: the change log, each time into a fresh
    // directory; the replays read the last one
    val logs = (0 until Main.SetupReps).map(i => s"${o.work}/log$i")
    r.e2e("setup_s") = median(logs.map(dir => timed(Gen.writeChangeLog(spark, cfg, dir,
      nChunks = Chunks, filesPerChunk = FilesPerChunk))._2))
    val log = logs.last
    // -- warm-up: a small replay of its own, so the replay path is JIT-warm
    val warmCfg = cfg.copy(nEvents = 60000L, nConvs = 600L)
    Gen.writeChangeLog(spark, warmCfg, s"${o.work}/warmlog", nChunks = 1,
      filesPerChunk = FilesPerChunk)
    CdcPipeline.replayAll(spark,
      LakeTable.create(spark, s"${o.work}/warmlake", Keys, numBuckets = Buckets),
      CdcPipeline.CdcConfig(s"${o.work}/warmlog", s"${o.work}/warmcp",
        maxFilesPerTrigger = FilesPerEpoch))
    phase("set-up done")

    // -- timed: replays into fresh tables until the seconds are spent
    collectBeforeWindow()
    val replays = mutable.ArrayBuffer.empty[(LakeTable, Double)]
    val epochTimes = mutable.ArrayBuffer.empty[Double]
    val fromMs = System.currentTimeMillis()
    var elapsed = 0.0
    var k = 0
    tr.span("timed") {
      while (k == 0 || (elapsed < o.seconds && k < MaxReplays)) {
        val table = LakeTable.create(spark, s"${o.work}/lake$k", Keys, numBuckets = Buckets)
        val t0 = System.currentTimeMillis()
        val done = tr.span("replay") {
          tr.expectStream()
          try {
            val (n, s) = timed(CdcPipeline.replayAll(spark, table,
              CdcPipeline.CdcConfig(log, s"${o.work}/cp$k",
                maxFilesPerTrigger = FilesPerEpoch)))
            Right((n, s))
          } catch { case scala.util.control.NonFatal(e) => Left(e) }
        }
        done match {
          case Right((n, s)) =>
            r.attempted += Epochs
            r.failed += math.max(0L, Epochs - n)
            r.check("epochs_committed", n == Epochs, s"replay $k committed $n of $Epochs epochs")
            elapsed += s
            replays += ((table, s))
            val commits = table.history().orderBy("version").select("commit_ts")
              .collect().map(_.getTimestamp(0).getTime)
            epochTimes ++= commits.toSeq.sliding(2).map(w => (w(1) - w(0)) / 1e3)
          case Left(e) =>
            val committed = table.history().count()
            r.attempted += committed + 1
            r.failed += 1
            r.errors += s"replay $k: $e"
            System.err.println(s"[perfbench] FAILED replay $k: $e")
            elapsed += (System.currentTimeMillis() - t0) / 1e3
        }
        k += 1
      }
    }
    val toMs = System.currentTimeMillis()
    phase("timed window done")
    r.e2e("heap_retained_mb") = retainedHeapMb()
    val totalS = replays.map(_._2).sum
    val events = replays.size * Events
    r.e2e("rate_per_s") = if (totalS > 0) events / totalS else 0.0
    r.e2e("op_p50_s") = median(epochTimes.toSeq)
    r.named("ingest_events_per_s") = (r.e2e("rate_per_s"), "1/s")
    r.named("epoch_p50_s") = (r.e2e("op_p50_s"), "s")
    r.named("replays") = (replays.size.toDouble, "count")

    // -- checks (outside the timed window)
    replays.zipWithIndex.foreach { case ((t, _), i) =>
      val rowsIn = t.metrics().agg(sum("rowsIn")).head().getLong(0)
      r.check("rows_in_equals_events", rowsIn == Events, s"replay $i: rowsIn=$rowsIn events=$Events")
    }
    replays.lastOption match {
      case Some((t, _)) =>
        val expected = Gen.expectedState(spark, cfg).toDF()
        val bad = Parity.diff(t.read(), expected, Keys, exact = true).count()
        r.check("final_state_equals_expected", bad == 0, s"$bad keys differ")
      case None => r.check("final_state_equals_expected", ok = false, "no replay completed")
    }

    phase("checks done")
    if (tr.enabled) layers(tr, replays.map(_._1).toSeq, fromMs, toMs, o, r)
  }

  private def layers(tr: Trace, tables: Seq[LakeTable],
      fromMs: Long, toMs: Long, o: Main.Opts, r: Result): Unit = {
    import Stats._
    tr.drain()
    val epochsRun = math.max(tables.size * Epochs, 1)
    val ids = tr.subtree(tr.named("timed").head.id)
    val prog = tr.progressEvents.filter(p => ids.contains(p._4))
    def dur(k: String) = prog.map(_._3(k) / 1e3)
    r.layer("stream.trigger_s") = mean(dur("triggerExecution"))
    r.layer("stream.add_batch_s") = mean(dur("addBatch"))
    r.layer("stream.wal_commit_s") = mean(dur("walCommit"))
    r.layer("stream.commit_offsets_s") = mean(dur("commitOffsets"))
    r.layer("stream.latest_offset_s") = mean(dur("latestOffset"))
    r.layer("stream.harness_s") = r.layer("stream.trigger_s") - r.layer("stream.add_batch_s")
    LakeLayers.writes(tables, r, firstEpoch = 0L, setupBytes = 0.0)
    r.layer("lake.post_merge_s") = r.layer("stream.add_batch_s") - r.layer("lake.merge_s")
    r.layer("lake.snapshot_load_s") = median(tables.map(t => timed(t.currentSnapshot())._2))
    r.layer("lake.manifest_bytes") = mean(tables.map(LakeLayers.manifestBytes))
    sparkLayer(tr, ids, fromMs, toMs, epochsRun, r)
  }
}

/** Lake-layer figures read from the table manifests (`metrics()` /
  * `history()`, i.e. `MergeStats`) and the table directories.
  */
object LakeLayers {
  import Stats._

  /** Merge figures of epochs from `firstEpoch` on; `setupBytes` is what the
    * tables held before the timed window.
    */
  def writes(tables: Seq[LakeTable], r: Result, firstEpoch: Long, setupBytes: Double): Unit = {
    val stats = tables.flatMap(_.metrics().collect().toSeq)
      .filter(s => !s.getAs[Boolean]("skipped") && s.getAs[Long]("epoch") >= firstEpoch)
    def longs(c: String) = stats.map(_.getAs[Long](c).toDouble)
    def dbls(c: String) = stats.map(_.getAs[Double](c))
    val secs = dbls("seconds")
    val compacted = stats.map(_.getAs[Int]("compactedBuckets").toDouble)
    r.layer("lake.merge_s") = mean(secs)
    r.layer("lake.compacted_buckets") = mean(compacted)
    r.layer("lake.compaction_epoch_share") = mean(compacted.map(c => if (c > 0) 1.0 else 0.0))
    val rowsIn = longs("rowsIn").sum
    r.layer("lake.dedupe_ratio") = if (rowsIn > 0) longs("rowsApplied").sum / rowsIn else 0.0
    r.layer("lake.skew_max") = if (stats.isEmpty) 0.0 else dbls("skewFactor").max
    r.layer("lake.bytes_in") = mean(longs("bytesIn"))
    val written = tables.map(t => du(s"${t.root}/data") - setupBytes)
    val live = tables.map(t => t.currentSnapshot().files
      .map(f => new java.io.File(s"${t.root}/data/${f.path}").length()).sum.toDouble)
    r.layer("lake.bytes_written") = mean(written)
    r.layer("lake.write_amp") = if (live.sum > 0) written.sum / live.sum else 0.0
    r.layer("lake.files_live") = mean(tables.map(_.currentSnapshot().files.size.toDouble))
    val (plain, comp) = secs.zip(compacted).partition(_._2 == 0.0)
    r.layer("lake.plain_merge_s") = mean(plain.map(_._1))
    r.layer("lake.compaction_merge_s") = mean(comp.map(_._1))
    r.layer("lake.delta_depth_mean") = mean(tables.flatMap(
      _.history().where(col("last_epoch") >= firstEpoch).select("delta_files")
        .collect().map(_.getInt(0).toDouble)))
  }

  /** Size of the head snapshot's manifest file. */
  def manifestBytes(t: LakeTable): Double = {
    val v = t.currentSnapshot().version
    new java.io.File(s"${t.root}/_snapshots/snap-$v.txt").length().toDouble
  }
}
