package graftbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Closed-loop query workloads (`cdc_analytics`, `llm_curation`): one client
  * runs registry entries back to back in a seed-shuffled order.
  *
  * Set-up is `setupRounds` rounds, each a fresh session with an empty
  * fixture cache followed by one pass over the entries and then
  * `warmup_passes` more, so the JIT has settled before timing; the first
  * round writes every output to parquet for the runner's oracle check. The timed
  * phase then runs whole passes into the `noop` sink until `seconds` have
  * passed. An entry's latency is its build (the registry call, which may
  * run eager jobs such as index builds) plus its run. */
object Passes {
  private final case class Sample(entry: String, buildS: Double, runS: Double) {
    def totalS: Double = buildS + runS
  }

  def run(run: Run): Map[String, Any] = {
    val entries = Json.strings(run.job.get("entries"))
    val dataDir = run.job.get("data_dir").asText()
    val outDir = new File(run.dir, "out")
    val registry = SparkEntry.queries
    val rng = new scala.util.Random(run.seed)
    var attempted, failed = 0
    val errors = ArrayBuffer.empty[String]

    def runEntry(s: SparkSession, name: String)(sink: DataFrame => Unit): Option[(Double, Double)] = {
      attempted += 1
      try {
        val t0 = System.nanoTime()
        val df = registry(name)(s, dataDir)
        val t1 = System.nanoTime()
        sink(df)
        Some(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"$name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      }
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    java.nio.file.Files.writeString(new File(run.dir, "oracle_sql.json").toPath,
      Json.write(SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) }))
    val warmupPasses = run.job.get("warmup_passes").asInt()
    val setup = run.setUp { round =>
      rng.shuffle(entries).foreach { name =>
        runEntry(run.spark, name) { df =>
          if (round == 1) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          else noop(df)
        }
      }
      for (_ <- 1 to warmupPasses; name <- rng.shuffle(entries)) runEntry(run.spark, name)(noop)
    }

    val spark = run.spark
    val profile = run.profile()
    val samples = ArrayBuffer.empty[Sample]
    val passSeconds = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9

    def onePass(parent: Long): Unit = {
      val tp = System.nanoTime()
      rng.shuffle(entries).foreach { name =>
        def go(): Unit = runEntry(spark, name)(noop).foreach { case (b, r) =>
          samples += Sample(name, b, r)
        }
        profile match {
          case Some(p) => p.within("entry", name, parent, s"entry:$name")(_ => go())
          case None => go()
        }
      }
      passSeconds += (System.nanoTime() - tp) / 1e9
    }

    def passes(parent: Long): Unit = {
      var pass = 0
      while (pass == 0 || elapsed < run.seconds) {
        pass += 1
        profile match {
          case Some(p) => p.within("pass", s"pass $pass", parent, "between")(onePass)
          case None => onePass(0L)
        }
      }
    }
    profile match {
      case Some(p) => p.within("workload", run.job.get("workload").asText(), 0L, "between")(passes)
      case None => passes(0L)
    }
    val wallS = elapsed
    val heapMb = run.retainedHeapMb()

    val base = Map[String, Any](
      "setup_rounds_s" -> setup,
      "latencies_s" -> samples.groupMap(_.entry)(_.totalS),
      "pass_s" -> passSeconds,
      "timed_wall_s" -> wallS,
      "retained_heap_mb" -> heapMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors,
      "out_dir" -> outDir.getPath,
      "entries" -> entries)
    profile match {
      case None => base
      case Some(p) =>
        p.stop()
        val spans = p.resolved(Map.empty)
        p.writeSpans(spans, new File(run.dir, "trace.jsonl"))
        base + ("layers" -> layers(run, p, spans, samples.toSeq, passSeconds.size, wallS, entries))
    }
  }

  /** Per-layer metrics of the timed phase, per pass (the query-layer and
    * Spark totals) and per entry run (the `<entry>.*` figures). */
  private def layers(run: Run, p: Profile, spans: Seq[Span], samples: Seq[Sample],
                     passes: Int, wallS: Double, entries: Seq[String]): Map[String, Double] = {
    val perEntry = entries.map(e => e -> p.counters(s"entry:$e").values).toMap
    val total = perEntry.values.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val byParent = spans.groupBy(_.parent)
    def descendants(id: Long): Seq[Span] =
      byParent.getOrElse(id, Nil).flatMap(s => s +: descendants(s.id))
    val entrySpans = spans.filter(_.kind == "entry")
    val selfUs = entrySpans.map { e =>
      val jobs = descendants(e.id).filter(_.kind == "job").map(j => (j.startUs, j.endUs))
      (e.endUs - e.startUs) - Profile.covered(e.startUs, e.endUs, jobs)
    }.sum
    val runs = samples.groupBy(_.entry)
    val common = Profile.layerMetrics(total, passes, wallS, run.cpus) ++ Map(
      "queries.build_s" -> samples.map(_.buildS).sum / passes,
      "queries.run_s" -> samples.map(_.runS).sum / passes,
      "queries.driver_self_s" -> selfUs / 1e6 / passes)
    val entryMetrics = entries.flatMap { e =>
      val n = math.max(1, runs.getOrElse(e, Nil).size).toDouble
      val c = perEntry(e)
      Seq(s"$e.s" -> Stats.median(runs.getOrElse(e, Nil).map(_.totalS)),
        s"$e.jobs" -> c("jobs") / n,
        s"$e.broadcasts" -> c("broadcasts") / n,
        s"$e.exchanges" -> c("exchanges") / n)
    }
    val selfTimes = Profile.selfTimeByKind(spans).map { case (k, v) =>
      s"self.${k.replace(' ', '_')}_s" -> v / passes
    }
    common ++ entryMetrics ++ selfTimes
  }
}
