package graft

import org.apache.spark.sql.SparkSession

/** Interleaved same-session A/B of Spark session-conf variants of one
  * entry (timings are only comparable within one session). Not part of the
  * Bench/Verify surface; run via
  * `sbt "Test/runMain graft.BenchScratch p29_stream_correlate"`. */
object BenchScratch {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("p29_stream_correlate")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = EngineSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)

    def run(label: String, conf: Map[String, String]): (Double, Long, String) = {
      val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val hash = rows.map(_.toString).sorted.mkString("|").hashCode.toHexString
        (sec, rows.length.toLong, hash)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    val variants =
      if (name.contains("x3_ann"))
        // the runtime bloom-filter injection on/off (the round-16 spine
        // lesson suspected INSIDE the serves)
        Seq("base" -> Map.empty[String, String],
          "no-bloom" -> Map("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false"))
      else
        Seq("base" -> Map.empty[String, String],
          "noData-off" -> Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
          "rocksdb" -> Map("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

    // warmup once, then interleave 3 rounds of every variant
    run("warmup", Map.empty)
    val results = collection.mutable.Map.empty[String, List[Double]]
    var hashes = Map.empty[String, String]
    (1 to 3).foreach { r =>
      variants.foreach { case (label, conf) =>
        val (sec, n, h) = run(label, conf)
        results(label) = sec :: results.getOrElse(label, Nil)
        hashes += label -> h
        println(f"round $r  $label%-18s $sec%6.2f s  rows=$n hash=$h")
      }
    }
    println("--- medians ---")
    variants.foreach { case (label, _) =>
      val xs = results(label).sorted
      println(f"$label%-18s median=${xs(xs.size / 2)}%6.2f s  hash=${hashes(label)}")
    }
    spark.stop()
  }
}
