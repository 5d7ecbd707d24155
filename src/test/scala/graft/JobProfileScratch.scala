package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Throwaway job-barrier profiler: run a driver entry once warm and print
  * every Spark JOB with its wall duration — the barrier-budget breakdown
  * the x10-chain optimization (round-21 verdict #3) needs before touching
  * anything. `sbt "Test/runMain graft.JobProfileScratch <entry> [sfDir]"`. */
object JobProfileScratch {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("x10_state_reps")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    // warm run (codegen/JIT) then profiled run
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val stages = js.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '\n').take(40)}#${si.numTasks}")
          .mkString(" | ")
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("") + " :: " + stages
        starts.put(js.jobId, (js.time, desc)); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          rows.add((je.jobId, (je.time - t0) / 1e3, desc)); ()
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // listener bus drain
    spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val all = rows.asScala.toSeq.sortBy(_._1)
    println(f"=== $name warm run: $total%.3f s, ${all.size} jobs ===")
    all.foreach { case (id, sec, desc) =>
      println(f"job $id%3d  $sec%7.3f s  ${desc.take(90)}")
    }
    println(f"sum of job walls: ${all.map(_._2).sum}%.3f s")
    spark.stop()
  }
}
