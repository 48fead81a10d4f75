package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one SparkSession factory (≙ reference's DuckLakeConnectionManager,
  * airflow/dags/bronze/utils.py:23-56) plus the harness skeleton every main
  * shares: the catalog entry selector and the between-run cache isolation.
  *
  * Defaults size the session to `SPARK_GRAFT_CPUS` (unset → 4) with the same
  * settings on a real cluster: AQE on (runtime re-planning, skew-join
  * handling), shuffle partitions sized to cores (local) — on a cluster AQE
  * coalesces post-shuffle partitions anyway.
  */
object GraftSession {
  private def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(master: String = s"local[$envCpus]",
              // non-numeric env (e.g. SPARK_GRAFT_CPUS='*' for local[*]) → 4
              shufflePartitions: Int = envCpus.toIntOption.getOrElse(4)): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false") // reference semantics: bad cast → NULL (SURVEY §2.8 F4)
      // events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's reader
      // rejects; read as long nanos and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Plan strings nest every InMemoryRelation's cached subtree per
      // REFERENCE — a persist-at-every-arrow pipeline with multi-consumer
      // stages prints k^depth subtree copies, and the default unbounded
      // length OOMs the driver on an 8-stage chain (observed: PlanSpec
      // heap death in toString). 8 MB keeps any plan a human (or a gate)
      // reads intact and bounds the pathological case.
      .config("spark.sql.maxPlanStringLength", (8 << 20).toString)
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  type Entry = (SparkSession, String) => DataFrame

  /** Catalog entries in name order, restricted to the comma-separated names
    * in `only` (`SPARK_GRAFT_ONLY` for the mains; unset = every entry). A
    * name the catalog does not hold fails the call: a typo would otherwise
    * select nothing, and an empty dump or bench line reads as a clean run.
    */
  def entries(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"),
              catalog: Map[String, Entry] = SparkEntry.queries): Seq[(String, Entry)] = {
    val sorted = catalog.toSeq.sortBy(_._1)
    only match {
      case None => sorted
      case Some(csv) =>
        val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names.diff(catalog.keySet).toSeq.sorted
        require(names.nonEmpty, s"entry filter '$csv' names no entry")
        require(unknown.isEmpty, s"unknown catalog entries: ${unknown.mkString(", ")}")
        sorted.filter { case (name, _) => names.contains(name) }
    }
  }

  /** Run isolation: entries that persist or checkpoint internally (curation
    * stage frames, connected-component labels, IVF training caches) leak
    * storage blocks into the shared JVM, and accumulated blocks turn into
    * GC and page pressure that swung identical code ±3-4× between rounds
    * (r6: qc01/qc02 at 37/32 s in the full catalog vs 15.3/14.3 s
    * isolated). Call it before every run, outside any timed window. Safe
    * between entries: each run has finished with its frames before the
    * next starts.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }
}
