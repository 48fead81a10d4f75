package graft

import org.apache.spark.sql.functions._

/** Scale tooling (not part of the catalog contract; feeds docs/SCALE.md):
  *
  *   sbt "runMain graft.ScaleProbe synth <sfDir> <copies> [outDir] [skew]"
  *   sbt "runMain graft.ScaleProbe exponent [sfDir] [copies] [entries.csv] [skew]"
  *   sbt "runMain graft.ScaleProbe gatebench [nRows]"
  *
  * `synth` builds an N-copy scale fixture (tools/sweep.sh), `exponent`
  * measures per-entry time-scaling exponents on one, and `gatebench`
  * prices the curation gate's text kernels. The retired one-shot modes and
  * where their results live are listed in docs/SCALE.md.
  */
object ScaleProbe {

  /** Synthesize an `nCopies`-× scale fixture from `sfDir` into `outDir` —
    * the shared synthesizer behind the exponent probe and the standalone
    * `synth` mode (tools/sweep.sh). See the key-offset / content-re-key /
    * skew comments inline: copies are disjoint key-space shards of the
    * same distribution, content is re-keyed so dedup pipelines don't kill
    * the scaled copies, dims stay shared so the join graph is `nCopies`
    * disjoint copies over fixed dims.
    *
    * Content must be re-keyed along with the ids: unioned copies with
    * IDENTICAL text are 90 % exact duplicates — a dedup pipeline kills
    * them at its first stage and the "10×" run measures ~1× (first probe
    * draft read exponent −0.12 for qc01 exactly this way). Per copy i:
    *   - documents: prefix every NON-STOPWORD token with the copy tag (a
    *     token-identity bijection that FIXES the langid/quality stopword
    *     union — the second probe draft tagged every token, the quality
    *     gate's stopword ratio read 0 on all scaled copies, and the
    *     curation entries killed 90 % of the "10×" corpus at their first
    *     filter). Intra-copy dup/near-dup structure is preserved exactly;
    *     quality/langid profiles are unchanged; cross-copy docs share
    *     only their stopword runs — so hot all-stopword shingles grow
    *     df×10, which is precisely the hot-posting stress the prefix
    *     filter exists for, while cross-copy Jaccard stays under the
    *     dedup thresholds;
    *   - embeddings: flip element signs by a deterministic (copy, dim)
    *     mask — norms and intra-copy cosines are preserved bit-exactly
    *     (the flips cancel inside every same-copy dot), cross-copy cosine
    *     decorrelates instead of being 1.0.
    */
  def synthFixture(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                   outDir: String, nCopies: Int,
                   skewSource: Boolean = false): Unit = {
    val off = 1L << 40
    val keyCols = Map(
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_suppkey"),
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      // events scale as disjoint USER copies with timestamps verbatim:
      // per-user event density (the entity every analytics window
      // partitions by) is preserved exactly, and the copies overlap in
      // time — 10× the concurrent users, which is what 10× traffic means
      "events" -> Seq("event_id", "user_id"),
      // nation scales so the reference-parity entries scale: the silver
      // zone/municipio universe derives from nation (zonesBronze,
      // municipiosShared, the INE fixtures), and q35's distance matrix —
      // the reference's one intrinsic O(n²) (silver/distances.py) — grows
      // with ZONES, not facts. A SMALL offset (1000/copy, keys stay Int:
      // fact-side n_nationkey FKs are NOT offset, so customer/supplier
      // joins keep matching copy 0 — dims are shared, the zone UNIVERSE
      // grows) + copy-tagged n_name below (zone IDs key on the name).
      "nation" -> Seq("n_nationkey"))
    val nationOff = 1000
    val verbatim = Seq("region", "part")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    keyCols.foreach { case (t, keys) =>
      val base = spark.read.parquet(s"$sfDir/$t.parquet")
      (0 until nCopies).map { i =>
        val rekeyed =
          if (t == "nation")
            // small Int offset (see keyCols note) + copy-tagged names so
            // zone IDs / municipio labels stay distinct across copies
            base.withColumn("n_nationkey", col("n_nationkey") + lit(i * nationOff))
              .withColumn("n_name",
                if (i == 0) col("n_name")
                else concat(col("n_name"), lit(s"_C$i")))
          else keys.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * off)))
        val stopAlt = graft.functions.TextFns.LangId.profiles.flatMap(_._2)
          .distinct.map(java.util.regex.Pattern.quote).mkString("|")
        val tagPat = s"(?<!\\S)(?!(?:$stopAlt)(?!\\S))(\\S+)"
        val retexted =
          if (t == "documents" && i > 0)
            rekeyed.withColumn("text",
              regexp_replace(col("text"), tagPat, s"c$i$$1"))
          else if (t == "embeddings" && i > 0)
            rekeyed.withColumn("embedding",
              transform(col("embedding"), (x, j) =>
                when(pmod(xxhash64(lit(i), j), lit(2)) === 0, x).otherwise(-x)))
          else rekeyed
        // 80 % of every copy into one source/lang (2^40 ≡ 6 mod 10, so
        // each copy's hot residue set shifts but stays 8 of 10)
        if (skewSource && t == "documents")
          retexted
            .withColumn("source",
              when(pmod(col("doc_id"), lit(10)) < 8, lit("hot-src"))
                .otherwise(col("source")))
            .withColumn("lang",
              when(pmod(col("doc_id"), lit(10)) < 8, lit("en"))
                .otherwise(col("lang")))
        else retexted
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    verbatim.foreach { t =>
      // read-and-rewrite, not Files.copy: the fixture table may be a
      // DIRECTORY of part files (the exact layout Spark — including this
      // probe — writes), and a path-level copy would copy only the empty
      // directory entry, silently losing the dim tables when the probe
      // chains off a synthesized fixture.
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** `runMain graft.ScaleProbe exponent [sfDir] [copies] [entries.csv]`:
    * measured time-scaling exponents. No sf1 fixture exists, so the probe
    * SYNTHESIZES one: each scalable table unioned `copies` times with its
    * key columns offset by i·2^40 per copy (disjoint key spaces, identical
    * per-key density — 10 independent shards of the same distribution,
    * which is what "10× the corpus" means), dims (region/nation/part) and
    * events copied verbatim, TPC-H foreign keys offset consistently so the
    * join graph is `copies` disjoint copies sharing the fixed dims.
    * Fixture modulus predicates survive scaling: 2^40 ≡ 1 (mod 25, 17,
    * 31, 13), so `doc_id % 25 == 0`-style splits select the same FRACTION
    * of every copy (residues shift by i, sizes don't drift).
    *
    * Each entry then runs warmup+timed at 1× and at `copies`×; the
    * reported exponent is log(t_N/t_1)/log(N) — ~1 is linear, ~2
    * quadratic; log-factor terms (sorts) read as slightly >1. Fixed-panel
    * query sets (`vec_id < 20`) stay fixed under scaling; the recall
    * probes' `% 31` panels grow WITH the corpus by construction, so their
    * sampled-exact terms are expected ~2 — the fixed-panel production
    * variant is the linear form (see SCALE.md round-10).
    */
  private def exponentProbe(sfDir: String, copies: Int, entriesCsv: String,
                            skewSource: Boolean = false): Unit = {
    val entries = GraftSession.entries(Some(entriesCsv))
    val spark = GraftSession.get()
    val suffix = if (skewSource) "_skew" else ""
    val scaledDir = s"/tmp/graft_scale_${copies}x$suffix"
    // skew mode (the quota/window-family stressor): 80 % of every copy's
    // documents are rewritten into ONE source (and one lang) — the
    // pathological single-heavy-hitter corpus a per-source window
    // degenerates on. The 1× point must carry the SAME skew (otherwise the
    // exponent conflates skew cost with scale cost), so a skewed 1×
    // baseline is synthesized alongside and used for t1.
    val baseDir = if (skewSource) s"/tmp/graft_scale_1x$suffix" else sfDir
    val t0 = System.nanoTime()
    synthFixture(spark, sfDir, scaledDir, copies, skewSource)
    if (skewSource) synthFixture(spark, sfDir, baseDir, 1, skewSource)
    println(f"""{"probe":"exponent_setup","copies":$copies,"sec":${(System.nanoTime() - t0) / 1e9}%.1f}""")
    def isolate(): Unit = {
      GraftSession.isolate(spark)
      Thread.sleep(200)
    }
    def timeOne(fn: GraftSession.Entry, dir: String): (Double, Long) = {
      // the spill-aware sizing rule applied, not dodged: shuffle partition
      // count scales with the input (32 at ≤10×, 32·copies/10 above), the
      // way a cluster sizes partitions to the data. At 100× on 32
      // partitions the 60M-row graph joins sort ~2M rows per task and the
      // single-JVM execution pool throws UNABLE_TO_ACQUIRE_MEMORY
      // (measured) — partition sizing IS the knob under test.
      spark.conf.set("spark.sql.shuffle.partitions",
        (32 * math.max(1, (if (dir == scaledDir) copies else 1) / 10)).toString)
      isolate()
      val w0 = System.nanoTime()
      var rows = fn(spark, dir).count() // untimed warmup (codegen, parquet footers, memos)
      val warm = (System.nanoTime() - w0) / 1e9
      def timed(): Double = {
        isolate()
        val t = System.nanoTime()
        rows = fn(spark, dir).count()
        (System.nanoTime() - t) / 1e9
      }
      // sub-minute entries take min-of-2 (single-run scheduler jitter of
      // ±0.5-1 s would dominate their exponents); heavy ones run once
      ((1 to (if (warm < 60) 2 else 1)).map(_ => timed()).min, rows)
    }
    entries.foreach { case (entry, fn) =>
      try {
        val (t1, rows1) = timeOne(fn, baseDir)
        val (tN, rowsN) = timeOne(fn, scaledDir)
        val expo = math.log(tN / t1) / math.log(copies.toDouble)
        // rows_N / rows_1 ≈ copies is the synthesis-honesty check: if a gate
        // killed the scaled copies (the two failure modes in the synthesis
        // comment above), the exponent would read flat for the wrong reason
        // and the row ratio exposes it.
        println(f"""{"probe":"exponent","entry":"$entry","copies":$copies,""" +
          f""""t1_sec":$t1%.2f,"tN_sec":$tN%.2f,"exponent":$expo%.2f,""" +
          f""""rows_1":$rows1,"rows_N":$rowsN}""")
      } catch { // one entry's failure is a finding, not the run's end
        case e: Throwable =>
          println(s"""{"probe":"exponent","entry":"$entry","copies":$copies,""" +
            s""""error":"${e.getClass.getSimpleName}"}""")
      }
    }
    spark.stop()
  }

  private val exponentDefaults = "qc01_curation,qc01s_curation_stored," +
    "qc02_curation_delta," +
    "q50_pagerank,q50p_pagerank_prod,q53_trustrank,qr01_retrieval," +
    "qr02_retrieval_serve,qt46s_lm_buckets_sampled," +
    "qt26r_semdedup_recall,qt24_neardup_delta,qt28_bm25,qt05p_ngram_jaccard_prefix," +
    "q20_sessionize,q48_funnel,q49_retention,q51_scd2," +
    // the reference-parity half (round-12 ask): the composed 9-table
    // silver pipeline, the flagship OD transform (scales with lineitem),
    // and the zone distance matrix (the reference's intrinsic O(n²) —
    // scales with the synthesized nation/zone universe; expect rows ≈
    // copies² and exponent ≈ 2 by construction)
    "qp01_pipeline,q32_silver_od,q35_silver_distances"


  /** `runMain graft.ScaleProbe gatebench [nRows]`: per-stage batch cost of
    * the curation/stream gate's text functions, native kernels vs their
    * retained Column-form twins, on the streamgate generator's synthetic
    * docs. The streaming harness measures one backlogged mega-batch per
    * run (±15 % between identical binaries), so kernel conversions are
    * priced HERE, deterministically (min of 3, persisted input, xxhash64
    * consumer so nothing folds away), and the stream number is read as
    * corroboration only.
    */
  private def gateBench(n: Int): Unit = {
    val spark = GraftSession.get()
    import graft.functions.{Expressions, TextFns}
    val filler = " lorem ipsum dolor sit amet consectetur adipiscing elit sed do" +
      " eiusmod tempor incididunt ut labore et dolore magna aliqua"
    val docs = spark.range(n).select(col("id"),
        when(col("id") % 8 === 0,
          concat(lit("template boilerplate page"), lit(filler),
            (col("id") % 3).cast("string")))
          .otherwise(concat(lit("unique document number "),
            col("id").cast("string"), lit(filler))).as("text"))
      .persist()
    docs.count()
    def time(name: String)(c: org.apache.spark.sql.Column): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        docs.select(xxhash64(c).as("h")).agg(sum(col("h"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup (codegen)
      val best = (1 to 3).map(_ => once()).min
      println(f"""{"probe":"gatebench","stage":"$name","n":$n,"sec":$best%.2f}""")
    }
    val stops = TextFns.LangId.profiles.flatMap(_._2).distinct
    time("scrub_native")(TextFns.scrubPii(col("text")))
    time("scrub_columns")(TextFns.scrubPiiColumns(col("text")))
    time("token_count_native")(TextFns.tokenCount(col("text")))
    time("token_count_columns")(TextFns.tokenCountColumns(col("text")))
    time("stopword_ratio_native")(TextFns.stopwordRatio(col("text"), stops))
    time("stopword_ratio_columns")(TextFns.stopwordRatioColumns(col("text"), stops))
    time("lang_id_native")(TextFns.LangId.langId(col("text")))
    time("lang_id_columns")(TextFns.LangId.langIdColumns(col("text")))
    time("quality_native")(TextFns.qualityScore(col("text")))
    time("nfc_normalize")(Expressions.normalizeText(col("text"), "NFC"))
    time("fingerprint64")(TextFns.fingerprint64(col("text")))
    time("simhash64")(Expressions.simhash64(col("text")))
    time("full_gate_chain")(struct(
      TextFns.qualityScore(TextFns.scrubPii(
        Expressions.normalizeText(col("text"), "NFC"))),
      TextFns.LangId.langId(col("text")),
      TextFns.fingerprint64(col("text")),
      Expressions.simhash64(col("text"))))
    // the PRODUCTION shape: canon projected as a column first (one
    // evaluation, attribute-bound downstream), then the gate reads it —
    // quality's ~6 references to its argument re-evaluate a NESTED
    // argument subtree wherever codegen CSE misses, which is what the
    // chain row above (deliberately nested) prices
    def timeTwoStep(name: String): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        docs.withColumn("canon", TextFns.scrubPii(
            Expressions.normalizeText(col("text"), "NFC")))
          .select(xxhash64(struct(
            TextFns.qualityScore(col("canon")),
            TextFns.LangId.langId(col("canon")),
            TextFns.fingerprint64(col("canon")),
            Expressions.simhash64(col("canon")))).as("h"))
          .agg(sum(col("h"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val best = (1 to 3).map(_ => once()).min
      println(f"""{"probe":"gatebench","stage":"$name","n":$n,"sec":$best%.2f}""")
    }
    timeTwoStep("full_gate_projected")
    // the SHIPPED STREAM shape (curateGatePrefix: canon projection +
    // quality column + token/quality FILTER) run on the batch engine —
    // same optimizer, so whatever the optimizer does to the stream's
    // projection barrier (filter pushdown re-nesting the canon subtree
    // into the predicate) is priced here, directly comparable to the
    // projected/nested rows above
    def timePrefixShape(name: String): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.streaming.Streams.curateGatePrefix(docs, "text",
            minTokens = 10, minQuality = 0.3, blockTerms = Nil, blockMaxRatio = 0.1)
          .select(xxhash64(struct(col("text"), col("quality"))).as("h"))
          .agg(sum(col("h"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val best = (1 to 3).map(_ => once()).min
      println(f"""{"probe":"gatebench","stage":"$name","n":$n,"sec":$best%.2f}""")
      println(graft.streaming.Streams.curateGatePrefix(docs, "text",
          10, 0.3, Nil, 0.1)
        .queryExecution.optimizedPlan.toString.take(2000))
    }
    timePrefixShape("stream_prefix_shape")
    spark.stop()
  }


  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("gatebench"))
      return gateBench(args.lift(1).map(_.toInt).getOrElse(1000000))
    if (args.headOption.contains("synth")) {
      // synth-only (tools/sweep.sh): `synth <sfDir> <copies> [outDir] [skew]`
      // — fixture synthesis without the timing runs, so a parity sweep can
      // build the scale fixture in one bounded Spark invocation
      val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
      val copies = args.lift(2).map(_.toInt).getOrElse(10)
      val skew = args.lift(4).contains("skew")
      val outDir = args.lift(3).filter(_.nonEmpty)
        .getOrElse(s"/tmp/graft_scale_${copies}x${if (skew) "_skew" else ""}")
      val spark = GraftSession.get()
      val t0 = System.nanoTime()
      synthFixture(spark, sfDir, outDir, copies, skew)
      println(f"""{"probe":"synth","copies":$copies,"out":"$outDir","sec":${(System.nanoTime() - t0) / 1e9}%.1f}""")
      spark.stop()
      return
    }
    if (args.headOption.contains("exponent"))
      return exponentProbe(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(10),
        args.lift(3).getOrElse(exponentDefaults),
        skewSource = args.lift(4).contains("skew"))
    throw new IllegalArgumentException(s"unknown ScaleProbe mode ${args.headOption.getOrElse("(none)")}; " +
      "expected synth, exponent or gatebench")
  }
}
