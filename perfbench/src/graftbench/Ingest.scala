package graftbench

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.cdc.{CanalJson, CdcApply}
import graft.streaming.{CdcPipeline, PipelineHealth}

/** Open-loop CDC ingest (`cdc_ingest`): `CdcPipeline.fileSource → events →
  * dedupDelivery → materializeSink`, fed by the runner's generator.
  *
  * Set-up rounds each drain a small priming backlog through the pipeline on
  * a fresh session. The timed phase starts the pipeline on the main source
  * directory, where the catch-up backlog already waits, and waits until it
  * has read every backlog line; it then signals the generator
  * (`catchup.done`), which writes the steady phase on its own schedule,
  * and waits for every line the generator reports in `steady.done`. The
  * sink runs on a fixed processing-time trigger, so every steady batch
  * holds the same span of the schedule. The per-batch progress goes back
  * to the runner, which computes event lag against the generator's due
  * times. After that, `drain_rounds` fresh queries each drain the larger
  * drain backlog, and the runner reports their median. */
object Ingest {
  private def start(spark: SparkSession, src: String, dir: File, triggerMs: Long): StreamingQuery = {
    val events = CdcPipeline.dedupDelivery(CdcPipeline.events(CdcPipeline.fileSource(spark, src)))
    CdcPipeline.materializeSink(events, new File(dir, "state").getPath,
      new File(dir, "ckpt").getPath)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()
  }

  /** Blocks until the query has read `lines` input lines in total. */
  private def awaitLines(q: StreamingQuery, lines: Long, timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (q.isActive && q.recentProgress.map(_.numInputRows).sum < lines &&
      System.nanoTime() < deadline) Thread.sleep(2)
    q.exception.foreach(e => throw e)
    require(q.recentProgress.map(_.numInputRows).sum >= lines,
      s"the pipeline read fewer than $lines lines in $timeoutS s")
  }

  /** Drains the whole backlog in `src` on a fresh query and stops it.
    * Returns the seconds from the stream's start to the commit of the last
    * batch that read input, and the rows of the state it materialized. */
  private def catchUp(spark: SparkSession, src: String, dir: File, triggerMs: Long,
                      lines: Long, timeoutS: Double): (Double, Long) = {
    val startMs = System.currentTimeMillis()
    val q = start(spark, src, dir, triggerMs)
    val drainS = try {
      awaitLines(q, lines, timeoutS)
      val commit = q.recentProgress.filter(_.numInputRows > 0)
        .map(pr => java.time.Instant.parse(pr.timestamp).toEpochMilli + pr.batchDuration).max
      (commit - startMs) / 1e3
    } finally q.stop()
    (drainS, spark.read.parquet(new File(dir, "state").getPath).count())
  }

  def run(run: Run): Map[String, Any] = {
    val job = run.job
    val prime = job.get("prime_dir").asText()
    val src = job.get("src_dir").asText()
    val primeLines = job.get("prime_lines").asLong()
    val backlogLines = job.get("backlog_lines").asLong()
    val triggerMs = job.get("trigger_ms").asLong()
    val timeoutS = run.seconds * 4 + 60
    val setup = run.setUp { r =>
      val q = start(run.spark, prime, new File(run.dir, s"prime$r"), triggerMs)
      awaitLines(q, primeLines, timeoutS)
      q.stop()
    }

    val spark = run.spark
    PipelineHealth.SinkCounters.reset()
    val profile = run.profile()
    val dir = new File(run.dir, "main")
    val catchupDone = new File(run.dir, "catchup.done")
    val steadyDone = new File(run.dir, "steady.done")
    var steadyFromBatch = 0L
    var startMs = 0L
    var q: StreamingQuery = null

    def phases(): Unit = {
      scope(profile, "catch-up") {
        startMs = System.currentTimeMillis()
        q = start(spark, src, dir, triggerMs)
        awaitLines(q, backlogLines, timeoutS)
      }
      steadyFromBatch = q.lastProgress.batchId + 1
      java.nio.file.Files.writeString(catchupDone.toPath, startMs.toString)
      scope(profile, "steady") {
        val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
        while (!steadyDone.exists() && System.nanoTime() < deadline) Thread.sleep(5)
        val steadyLines = new String(java.nio.file.Files.readAllBytes(steadyDone.toPath)).trim.toLong
        awaitLines(q, backlogLines + steadyLines, timeoutS)
      }
      q.stop()
    }
    profile match {
      case Some(p) => p.within("workload", "cdc_ingest", 0L, "between")(_ => phases())
      case None => phases()
    }
    val heapMb = run.retainedHeapMb()
    val progress = q.recentProgress.toSeq
    val errors = q.exception.map(_.toString).toSeq
    val batches = progress.map { pr =>
      val st = pr.stateOperators.headOption
      Map[String, Any](
        "batch" -> pr.batchId,
        "start_ms" -> java.time.Instant.parse(pr.timestamp).toEpochMilli,
        "duration_ms" -> pr.batchDuration,
        "input_rows" -> pr.numInputRows,
        "source_end" -> sourceEnd(pr),
        "durations_ms" -> pr.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "dropped_by_watermark" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
    }
    val counters = PipelineHealth.SinkCounters.snapshot
      .map { case (op, status, n) => s"$op.$status" -> n }.toMap
    val base = Map[String, Any](
      "setup_rounds_s" -> setup,
      "stream_start_ms" -> startMs,
      "backlog_lines" -> backlogLines,
      "steady_from_batch" -> steadyFromBatch,
      "batches" -> batches,
      "sink_counters" -> counters,
      "errors" -> errors,
      "retained_heap_mb" -> heapMb,
      "checkpoint" -> new File(dir, "ckpt").getPath,
      "state_dir" -> new File(dir, "state").getPath)
    val result = profile match {
      case None => base
      case Some(p) =>
        val steadyBatches = progress.filter(_.batchId >= steadyFromBatch)
        val batchSpans = progress.map { pr =>
          val s = java.time.Instant.parse(pr.timestamp).toEpochMilli
          pr.batchId -> p.addSpan("micro-batch", s"batch ${pr.batchId}", s * 1000,
            (s + pr.batchDuration) * 1000, 0L, Map("batch" -> pr.batchId.toString))
        }.toMap
        val replay = replayBatch(spark, p, dir, progress, steadyBatches
          .filter(_.numInputRows > 0).sortBy(_.numInputRows).map(_.batchId))
        p.stop()
        val spans = p.resolved(batchSpans)
        p.writeSpans(spans, new File(run.dir, "trace.jsonl"))
        val n = math.max(1, steadyBatches.size).toDouble
        val sparkLayer = Profile.layerMetrics(p.counters("steady").values, n,
          steadyBatches.map(_.batchDuration).sum / 1e3, run.cpus)
        val selfTimes = Profile.selfTimeByKind(spans).map { case (k, v) =>
          s"self.${k.replace(' ', '_')}_s" -> v
        }
        base + ("layers" -> (sparkLayer ++ replay ++ selfTimes))
    }
    // the drain catch-ups come after the timed phase, the heap reading and
    // the profile, so none of them sees these
    val drainSrc = job.get("drain_src_dir").asText()
    val drainLines = job.get("drain_lines").asLong()
    val drains = (1 to job.get("drain_rounds").asInt()).map { r =>
      catchUp(spark, drainSrc, new File(run.dir, s"drain$r"), triggerMs, drainLines, timeoutS)
    }
    result ++ Map("drains_s" -> drains.map(_._1), "drain_state_rows" -> drains.map(_._2))
  }

  private def scope[T](p: Option[Profile], name: String)(body: => T): T = p match {
    case Some(prof) => prof.within("phase", name, 0L, name)(_ => body)
    case None => body
  }

  /** The file source's end offset (its own log index) after a batch. */
  private def sourceEnd(pr: StreamingQueryProgress): Long =
    pr.sources.headOption.flatMap(s => """"logOffset"\s*:\s*(\d+)""".r
      .findFirstMatchIn(String.valueOf(s.endOffset))).map(_.group(1).toLong).getOrElse(-1L)

  /** Files read by each query batch. The file source's metadata log
    * numbers files by its own offsets, which skip the query's no-data
    * batches, so each batch owns the offsets after its predecessor's end. */
  private def filesByBatch(ckpt: File, progress: Seq[StreamingQueryProgress]): Map[Long, Seq[String]] = {
    val owner = progress.sortBy(_.batchId).foldLeft((-1L, Map.empty[Long, Long])) {
      case ((prev, m), pr) =>
        val end = sourceEnd(pr)
        (math.max(prev, end), m ++ ((prev + 1) to end).map(_ -> pr.batchId))
    }._2
    val logDir = new File(ckpt, "sources/0")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Option(logDir.listFiles()).toSeq.flatten.filter(f => !f.getName.startsWith("."))
      .flatMap(f => java.nio.file.Files.readAllLines(f.toPath).asScala)
      .filter(_.startsWith("{"))
      .map(mapper.readTree)
      .flatMap(n => owner.get(n.get("batchId").asLong()).map(_ -> n.get("path").asText()))
      .groupMap(_._1)(_._2)
      .map { case (b, fs) => b -> fs.distinct }
  }

  /** Replays one recorded steady batch — the median-sized one — through
    * the pipeline's layers in batch form, materializing at each boundary:
    * parse + flatten, delivery dedup, then the keyed apply over the state
    * buckets the batch touches, as the sink does. */
  private def replayBatch(spark: SparkSession, p: Profile, dir: File,
                          progress: Seq[StreamingQueryProgress],
                          bySize: Seq[Long]): Map[String, Double] = {
    if (bySize.isEmpty) return Map.empty
    val batchId = bySize(bySize.size / 2)
    val files = filesByBatch(new File(dir, "ckpt"), progress).getOrElse(batchId, Nil)
    if (files.isEmpty) return Map.empty
    val nBuckets = 32
    var out = Map.empty[String, Double]
    def timed[T](name: String, parent: Long)(f: => T): T =
      p.within("cdc layer", name, parent, s"cdc:$name") { _ =>
        val t0 = System.nanoTime()
        val r = f
        out += s"cdc.${name}_s" -> (System.nanoTime() - t0) / 1e9
        r
      }
    p.within("micro-batch", s"replay of batch $batchId", 0L, "between") { id =>
      val raw = spark.read.text(files: _*)
        .select(col("value"), lit(0).as("partition"), xxhash64(col("value")).as("offset"))
        .persist()
      val messages = raw.count()
      val parsed = CanalJson.parse(raw)
      val events = timed("parse_flatten", id) {
        val e = CanalJson.flatten(parsed).persist(); e.count(); e
      }
      val invalid = CanalJson.invalid(parsed).count()
      val deduped = timed("dedup", id) {
        val d = CdcApply.dedupDelivery(events).persist(); d.count(); d
      }
      val clean = deduped.filter(!CanalJson.processErrorRow(col("data")))
      val keyed = clean.withColumn("bucket",
        pmod(xxhash64(col("database"), col("table"), CdcApply.envelopePk), lit(nBuckets)))
      val dirty = keyed.select("bucket").distinct().collect().map(_.getLong(0)).toSeq
      val prev = spark.read.parquet(new File(dir, "state").getPath)
        .filter(col("bucket").isin(dirty: _*))
      val merged = prev.select(keyed.columns.map(col).toSeq: _*).unionByName(keyed)
      val stateRows = timed("apply", id) {
        val m = CdcApply.materializeEnvelopeKeyed(merged).persist()
        val n = m.count(); m.unpersist(); n
      }
      val eventsOut = events.count()
      val kept = deduped.count()
      Seq(raw, events, deduped).foreach(_.unpersist())
      out ++= Map(
        "cdc.messages_in" -> messages.toDouble,
        "cdc.events_out" -> eventsOut.toDouble,
        "cdc.invalid_msgs" -> invalid.toDouble,
        "cdc.dedup_kept_ratio" -> (if (eventsOut > 0) kept.toDouble / eventsOut else 0.0),
        "cdc.state_rows" -> stateRows.toDouble)
    }
    out
  }
}
