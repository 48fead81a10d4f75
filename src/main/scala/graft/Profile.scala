package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SQLExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where one run of each named catalog entry spends its time, and what it
  * executed. Per entry: one untimed warm-up (store builds, codegen),
  * [[GraftSession.isolate]], then one run with a job listener and a
  * `QueryExecutionListener` attached. The run executes the result frame's
  * own plan with every column computed, without collecting rows. Written
  * to `<out>` as markdown:
  *
  *   - per-job seconds and descriptions, and the run's total;
  *   - every action's executed plan — iterative entries checkpoint-truncate
  *     their result frame, so per-round and per-stage plans show only here;
  *   - the result frame's `explain("formatted")`, AQE-final.
  *
  *   sbt -batch "runMain graft.Profile <out> <entry,entry,...> <sfDir>"
  *
  * Extra session conf rides Spark's own `-Dspark.*` system properties, e.g.
  * broadcast off (the sort-merge plan shapes of the 100 TB regime):
  *
  *   sbt -batch 'set run / javaOptions += "-Dspark.sql.autoBroadcastJoinThreshold=-1"' \
  *     "runMain graft.Profile q50.md q50_pagerank <sfDir>"
  */
object Profile {
  private val BarrierDesc = "graft.Profile listener barrier"

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.Profile <out> <entry,entry,...> <sfDir>")
    val Array(out, names, sfDir) = args
    val entries = GraftSession.entries(Some(names))
    val spark = GraftSession.get()
    val sc = spark.sparkContext

    val jobStarts = new ConcurrentHashMap[Int, (String, Long)]()
    val jobs = new ConcurrentLinkedQueue[(Int, String, Double)]()
    val barrierSeen = new AtomicReference(new CountDownLatch(0))
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?"))
        jobStarts.put(js.jobId, (desc, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(je.jobId)).foreach { case (desc, t0) =>
          if (desc == BarrierDesc) barrierSeen.get.countDown()
          else jobs.add((je.jobId, desc, (je.time - t0) / 1e3))
        }
    })
    val actions = new ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(f"$funcName (${durationNs / 1e9}%.3f s)\n\n```\n${qe.executedPlan}\n```\n")
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    // The shared listener queue delivers events in order: once a marker
    // job's end has arrived, every earlier job and action event has been
    // handed to the listeners above.
    def drainListeners(): Unit = {
      val latch = new CountDownLatch(1)
      barrierSeen.set(latch)
      sc.setJobDescription(BarrierDesc)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      latch.await(60, TimeUnit.SECONDS)
    }

    val doc = new StringBuilder
    doc ++= s"# Profile — ${entries.map(_._1).mkString(", ")} ($sfDir)\n\n"
    doc ++= s"Generated by `graft.Profile $out ${entries.map(_._1).mkString(",")} $sfDir` " +
      s"at ${sc.master}: per entry, an untimed warm-up, cache isolation, then one " +
      "run with a job listener and a QueryExecutionListener attached.\n"
    entries.foreach { case (name, fn) =>
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      GraftSession.isolate(spark)
      drainListeners()
      jobs.clear()
      actions.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val qe = df.queryExecution
      SQLExecution.withNewExecutionId(qe, Some("profile run")) {
        qe.toRdd.foreach(_ => ())
      }
      val total = (System.nanoTime() - t0) / 1e9
      drainListeners()
      val runJobs = jobs.asScala.toSeq.sortBy(_._1)
      doc ++= s"\n## $name\n\n"
      doc ++= f"Run total $total%.3f s over ${runJobs.size} jobs " +
        f"(job seconds sum to ${runJobs.map(_._3).sum}%.3f s).\n\n"
      doc ++= "| job | s | description |\n|---:|---:|---|\n"
      runJobs.foreach { case (id, desc, sec) =>
        doc ++= f"| $id | $sec%.3f | ${desc.replace("|", "\\|").replace("\n", " ").take(120)} |\n"
      }
      actions.asScala.zipWithIndex.foreach { case (a, i) =>
        doc ++= s"\n### action ${i + 1}: $a"
      }
      doc ++= "\n### result frame: explain(\"formatted\")\n\n```\n" +
        qe.explainString(ExplainMode.fromString("formatted")).trim + "\n```\n"
      System.err.println(f"[profile] $name: $total%.3f s over ${runJobs.size} jobs")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), doc.toString)
    System.err.println(s"[profile] wrote ${entries.size} entries to $out")
    spark.stop()
  }
}
