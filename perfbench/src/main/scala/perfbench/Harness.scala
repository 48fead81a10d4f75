package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, row_number}
import org.apache.spark.sql.expressions.Window

/** One benchmark run in one fresh JVM: the set-up, a cold pass, then
  * `--passes` warm passes of the given operations (five with `--trace 1`).
  * An operation is one catalog entry: call its def (build), then write its
  * full result to parquet (action). Everything the metrics need is written
  * raw to `<work>/raw.json`; run.py does the arithmetic and the output
  * checks.
  *
  * The harness touches graft only through its public entry points:
  * `GraftSession.builder`, `SparkEntry.queries` and `Curation.lastStageSecs`.
  * With `--trace 1` it registers its own [[TraceListener]] and tags every
  * job with the operation it belongs to.
  *
  * Usage: Harness --workload W --ops q01,qt18,... --sf DIR --work DIR --passes N
  *                --trace 0|1 --cores N
  */
object Harness {

  final case class OpRecord(pass: Int, op: String, traced: Boolean,
                            t0: Long, t1: Long, t2: Long, // Clock.nanos()
                            gcS: Double, stageS: Map[String, Double],
                            ok: Boolean, error: String, out: String)

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val ops = a("ops").split(",").toSeq
    val sf = a("sf")
    val work = a("work")
    val warmPasses = a("passes").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt

    val clock = new Clock
    val sentinelBefore = Sentinel.seconds()
    val witnessBefore = Witness.machine()

    // Set-up: JVM start to session built and the fixed warm-up query done,
    // as a batch job pays it. The sentinel and witness just above are left
    // out: setup_s = (JVM start -> main) + (s0 -> s2).
    val s0 = clock.nanos()
    // Operations are named by entry id (q01, qt28c): the catalog name up
    // to its first underscore.
    val catalog = graft.SparkEntry.queries
    val entryOf = ops.map(id => id -> catalog.keys.find(_.takeWhile(_ != '_') == id)).toMap
    val unknown = entryOf.collect { case (id, None) => id }
    require(unknown.isEmpty, s"unknown catalog entries: ${unknown.mkString(",")}")
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s1 = clock.nanos()
    warmUp(spark, sf)
    val s2 = clock.nanos()
    val sc = spark.sparkContext

    val heap = new HeapWatch
    val listener = if (trace) Some(new TraceListener(sf)) else None

    // Isolation between operations, outside the timed window (Bench.isolate):
    // release what the previous operation persisted or checkpointed, collect
    // the heap, and absorb any post-collection hiccup with a tiny job.
    def isolate(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
      spark.range(1).count()
    }

    def tag(pass: Int, op: String, phase: String): Unit = {
      sc.setJobDescription(s"$workload:$op:$phase")
      sc.setLocalProperty(TraceListener.OpKey, s"$pass:$op:$phase")
    }

    val records = ArrayBuffer.empty[OpRecord]
    val passes = ArrayBuffer.empty[(Int, Boolean, Long, Long)]
    def runPass(pass: Int, traced: Boolean): Unit = {
      val l = listener.filter(_ => traced)
      l.foreach(sc.addSparkListener)
      val p0 = clock.nanos()
      for (op <- ops) {
        isolate()
        val out = s"$work/out/p${pass}_$op"
        graft.pipeline.Curation.lastStageSecs.remove()
        var t1 = 0L
        var stageS = Map.empty[String, Double]
        val gc0 = Witness.gcSeconds()
        val t0 = clock.nanos()
        val (ok, err) =
          try {
            if (traced) tag(pass, op, "build")
            val df: DataFrame = catalog(entryOf(op).get)(spark, sf)
            t1 = clock.nanos()
            // set on this thread by a persist-mode Curation.stages run
            stageS = graft.pipeline.Curation.lastStageSecs.get()
            if (traced) tag(pass, op, "action")
            df.write.mode("overwrite").parquet(out)
            (true, "")
          } catch {
            case e: Throwable =>
              if (t1 == 0L) t1 = clock.nanos()
              (false, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          } finally {
            sc.setJobDescription(null)
            sc.setLocalProperty(TraceListener.OpKey, null)
          }
        val t2 = clock.nanos()
        val gcS = Witness.gcSeconds() - gc0
        records += OpRecord(pass, op, traced, t0, t1, t2, gcS, stageS, ok, err, out)
        if (!ok) System.err.println(s"[perfbench] $op failed: $err")
      }
      passes += ((pass, traced, p0, clock.nanos()))
      l.foreach { l =>
        l.flush(spark)
        sc.removeSparkListener(l)
      }
    }

    // Cold pass: the first in the fresh session (codegen, memoised state
    // and index builds included). Then a fixed number of warm passes: JIT
    // compilation still speeds up the first few, so a time-based stop would
    // mix differently warm passes from run to run. A traced run makes five
    // warm passes: one to settle, then listener on-off-off-on, so the
    // tracing overhead comes from one JVM and a warming trend cancels out.
    runPass(0, traced = trace)
    heap.reset()
    val plan = if (trace) Seq(false, true, false, false, true) else Seq.fill(warmPasses)(false)
    for ((traced, i) <- plan.zipWithIndex) runPass(i + 1, traced)
    val heapPeakMb = heap.peakMb
    heap.close()

    val confs = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
        k.startsWith("spark.driver") || k.startsWith("spark.executor") }
    val sentinelAfter = Sentinel.seconds()
    val witnessAfter = Witness.machine()
    spark.stop()

    val record = Map(
      "workload" -> workload,
      "cores" -> cores,
      "trace" -> trace,
      "setup" -> Map("jvm_s" -> (mainMs - jvmStartMs) / 1e3,
        "init_s" -> (s1 - s0) / 1e9, "warmup_s" -> (s2 - s1) / 1e9),
      "sentinel_before_s" -> sentinelBefore,
      "sentinel_after_s" -> sentinelAfter,
      "machine_before" -> witnessBefore,
      "machine_after" -> witnessAfter,
      "confs" -> confs.toMap,
      "heap_live_peak_mb" -> heapPeakMb,
      "passes" -> passes.map { case (p, traced, s, e) =>
        Map("pass" -> p, "traced" -> traced,
          "start_ns" -> clock.epochNs(s), "end_ns" -> clock.epochNs(e)) },
      "ops" -> records.map { r =>
        Map("pass" -> r.pass, "op" -> r.op, "traced" -> r.traced,
          "start_ns" -> clock.epochNs(r.t0), "built_ns" -> clock.epochNs(r.t1),
          "end_ns" -> clock.epochNs(r.t2), "gc_s" -> r.gcS, "stage_s" -> r.stageS,
          "ok" -> r.ok, "error" -> r.error, "out" -> r.out) }
    ) ++ listener.map(_.record).getOrElse(Map.empty)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(work, "raw.json"), mapper.writeValueAsBytes(record))
  }

  /** The fixed warm-up query every set-up ends with (Bench's warm-up):
    * parquet read, broadcast join, aggregate, window and generator on the
    * two smallest fixture tables. */
  def warmUp(spark: SparkSession, sf: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    val r = spark.read.parquet(s"$sf/region.parquet")
    val n = spark.read.parquet(s"$sf/nation.parquet")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .groupBy("r_name").count()
      .withColumn("rn", row_number().over(Window.partitionBy("r_name").orderBy("count")))
      .selectExpr("explode(split(r_name, ' ')) AS w").count()
  }
}

/** Monotonic nanos with one epoch anchor, so op and job times line up. */
final class Clock {
  private val anchorNanos = System.nanoTime()
  private val anchorEpochMs = System.currentTimeMillis()
  def nanos(): Long = System.nanoTime()
  def epochNs(n: Long): Long = anchorEpochMs * 1000000L + (n - anchorNanos)
}

/** Fixed-work pure-CPU loop (Bench.sentinel's pattern): its time moves
  * only with contention or CPU frequency. */
object Sentinel {
  def seconds(): Double = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 27)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("sentinel")
    dt
  }
}

object Witness {
  private def read(p: String): String = {
    val src = scala.io.Source.fromFile(p)
    try src.mkString finally src.close()
  }

  /** nproc, load1 and MemAvailable. */
  def machine(): Map[String, Any] = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val load1 = scala.util.Try(read("/proc/loadavg").split("\\s+")(0).toDouble).getOrElse(-1.0)
    val memMb = scala.util.Try(read("/proc/meminfo").linesIterator
      .collectFirst { case l if l.startsWith("MemAvailable:") => l.split("\\s+")(1).toLong / 1024 }
      .get).getOrElse(-1L)
    Map("nproc" -> nproc, "load1" -> load1, "mem_available_mb" -> memMb)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}

/** Peak heap in use right after a collection: the sum over heap pools of
  * the usage each GC notification reports after the collection. The
  * harness's own `System.gc()` between operations is skipped, so the peak
  * is the program's. */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val handler = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause != "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
          synchronized { if (used > peakBytes) peakBytes = used }
        }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(handler, null, null))

  def reset(): Unit = synchronized { peakBytes = 0L }
  def peakMb: Double = peakBytes / 1048576.0
  def close(): Unit = emitters.foreach(e => scala.util.Try(e.removeNotificationListener(handler)))
}
