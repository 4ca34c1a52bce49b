package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge

/** Diagnostic evidence tooling (the PlanDump sibling): run one catalog
  * query through the noop sink with a listener attached and print every
  * Spark job's wall time and call site — the per-phase breakdown of
  * multi-job lifecycle queries (fixture clone vs DML writes vs manifest
  * procedures vs the final read) that a single bench number hides.
  * Usage:
  *
  *   sbt "runMain graft.JobProfile <query> [query ...]"
  *
  * Not part of any timed path; OPTIMIZATION_r19.md cites its output for
  * the commit-bound vs write-bound adjudication of the store lifecycle
  * family. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.silenceBenignStreamingTermination()
    // (jobId, callsite, start) -> duration
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        starts.put(js.jobId, (site, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (site, t0) =>
          lines.add((je.jobId,
            f"  job ${je.jobId}%4d  ${(je.time - t0) / 1000.0}%7.3f s  $site"))
        }
      }
    })
    // warmup (JIT + session machinery), mirroring Bench
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[jobprofile] no such query: $name")
        case Some(fn) =>
          // time the SECOND run (fixtures landed, JIT warm) — the run
          // whose jobs are the measured lifecycle, not fixture landing
          (1 to 2).foreach { pass =>
            GraftBridge.drainListenerBus(spark) // earlier passes' late events
            lines.clear()
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val total = (System.nanoTime() - t0) / 1e9
            println(f"[jobprofile] $name pass $pass  total $total%.3f s")
            GraftBridge.drainListenerBus(spark) // every job-end event of this pass
            lines.toArray(Array.empty[(Int, String)]).sortBy(_._1)
              .foreach(l => println(l._2))
          }
      }
    }
    spark.stop()
  }
}
