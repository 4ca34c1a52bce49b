package graft.streaming

/** Runnable end-to-end streaming demo: lands a small JSONL batch as the
  * file-source "topic", runs clean → dual sink (raw + serving) with
  * checkpointing, then restarts the same query against the same
  * checkpoint to demonstrate exactly-once (no double-append).
  *
  * Usage: sbt "runMain graft.streaming.Demo [workDir]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_stream_demo").toString)
    val spark = graft.Bench.sessionBuilder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    spark.createDataset(Seq(
      Jobs.Event(1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1, "click", 1.5, """{"k": 5}"""),
      Jobs.Event(2, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 2, "view", 2.5, """{"k": 6}"""),
      Jobs.Event(3, java.sql.Timestamp.valueOf("2024-01-01 01:15:00"), 1, "click", 3.0, """{"k": 7}""")))
      .toDF().write.mode("overwrite").json(s"$dir/src")

    def runOnce(): Unit = {
      val q = Jobs.dualSinkQuery(
        Jobs.clean(Jobs.readEventStream(spark, s"$dir/src")),
        s"$dir/raw", s"$dir/serving", s"$dir/cp")
      q.awaitTermination(120000)
    }
    runOnce()
    val afterFirst = spark.read.parquet(s"$dir/raw").count()
    runOnce() // same checkpoint → source offsets already committed → no-op
    val afterRestart = spark.read.parquet(s"$dir/raw").count()
    println(s"raw_rows_first=$afterFirst raw_rows_after_restart=$afterRestart")
    val serving = spark.read.parquet(s"$dir/serving").orderBy("event_type")
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(",")
    println(s"serving=$serving exactly_once=${afterFirst == afterRestart}")
    spark.stop()
  }
}
