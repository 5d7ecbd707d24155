package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import graft.EngineSession

/** Benchmark JVM. `perfbench/run.py` writes a job file (workload, seed,
  * duration, input locations) and starts this main with its path; the
  * result — raw timings, counters and the run's environment stamp — goes
  * to `result.json` beside it, and the runner turns it into metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val jobFile = new File(argv(0))
    val job = Json.read(jobFile)
    val run = new Run(job, jobFile.getParentFile)
    val result = job.get("workload").asText() match {
      case "cdc_ingest" => Ingest.run(run)
      case _ => Passes.run(run)
    }
    val out = new File(run.dir, "result.json")
    java.nio.file.Files.writeString(out.toPath,
      Json.write(result + ("stamp" -> run.stamp)))
    run.stop()
  }
}

/** One benchmark run: its job, its directory and its Spark sessions. */
final class Run(val job: JsonNode, val dir: File) {
  val cpus: Int = Runtime.getRuntime.availableProcessors
  val seed: Long = job.get("seed").asLong()
  val seconds: Double = job.get("seconds").asDouble()
  val trace: Boolean = job.get("trace").asBoolean()
  val setupRounds: Int = job.get("setup_rounds").asInt()
  private var rounds = 0
  private var current: Option[SparkSession] = None

  def spark: SparkSession = current.get

  /** A new SparkContext through `EngineSession.builder`, with a fresh
    * `java.io.tmpdir` so the engine's fixture cache starts empty. */
  def freshSession(): SparkSession = {
    stop()
    rounds += 1
    val tmp = new File(dir, s"tmp/session$rounds")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getPath)
    val s = EngineSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // cap the status store, which otherwise keeps up to a thousand jobs,
      // stages and SQL executions, so retained heap tracks the engine's
      // own state rather than how many operations the run managed
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    current = Some(s)
    s
  }

  def stop(): Unit = {
    current.foreach(_.stop())
    current = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Wall seconds of each of `setupRounds` set-ups, each on a fresh session. */
  def setUp(round: Int => Unit): Seq[Double] = (1 to setupRounds).map { r =>
    val t0 = System.nanoTime()
    freshSession()
    round(r)
    (System.nanoTime() - t0) / 1e9
  }

  def profile(): Option[Profile] =
    if (trace) Some(new Profile(spark, s"${job.get("workload").asText()}-$seed"))
    else None

  /** Heap still in use after forced full collections. Between them Spark's
    * context cleaner gets time to drop the blocks, broadcasts and shuffles
    * of datasets nothing references any more, so what remains is state
    * the program still holds. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(500)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def stamp: Map[String, Any] = Map(
    "nproc" -> cpus,
    "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "shuffle_partitions" -> current.map(_.conf.get("spark.sql.shuffle.partitions"))
      .getOrElse(cpus.toString),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "jdk" -> System.getProperty("java.version"))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
