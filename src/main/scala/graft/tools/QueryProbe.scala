package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Micro-bench one suite query in isolation: warm the session, run the named
  * query N times against a SF dir through the same noop sink `graft.Bench`
  * times, print per-rep seconds, and optionally the formatted plan — the dev
  * loop for plan-shape/perf work on a single query.
  *
  * Usage: `sbt "runMain graft.tools.QueryProbe <name> [sfDir] [reps] [explain]"`
  */
object QueryProbe {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: QueryProbe <queryName> [sfDir] [reps] [explain]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val doExplain = args.length > 3 && args(3) == "explain"
    val fn = SparkEntry.registry.find(_.name == name).map(_.run).getOrElse(
      sys.error(s"unknown query $name; have: ${SparkEntry.registry.map(_.name).sorted.mkString(", ")}"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-probe-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-scratch"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).write.format("noop").mode("overwrite").save()
    if (doExplain) fn(spark, sfDir).explain("formatted")
    // stage-level attribution (same listener shape as ScaleForensics)
    final case class St(name: String, tasks: Int, wallMs: Long, runMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = ev.stageInfo
          stages.add(St(i.name.linesIterator.next().take(50), i.numTasks,
            (for (c <- i.completionTime; s0 <- i.submissionTime) yield c - s0)
              .getOrElse(-1L),
            i.taskMetrics.executorRunTime))
        }
      })
    val times = (1 to reps).map { _ =>
      stages.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[probe] $name sf=$sfDir reps=" +
      times.map(t => f"$t%.3f").mkString(","))
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(-_.wallMs).take(8).foreach { s =>
      println(f"[probe-stage] wall=${s.wallMs}%5dms run=${s.runMs}%6dms " +
        f"tasks=${s.tasks}%3d ${s.name}")
    }
    spark.stop()
  }
}
