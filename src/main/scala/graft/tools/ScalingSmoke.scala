package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale smoke for the bounded-work claims: synthesizes a corpus
  * [[Factor]]× the size of a given sf dir under /tmp, runs the capped-
  * dedup family (q66/q103/q132-shape) and the IVF family (q40/q102/
  * q140) at BOTH scales, and writes the observed scaling exponents to
  * `SCALING.json` — measured evidence for the "work bounded per doc /
  * per vector at any corpus size" scaladoc claims, instead of argument.
  *
  * Corpus construction: 10 copies of the sf documents with offset ids;
  * copy c > 0 suffixes every token with `~c`, making the copies'
  * shingle vocabularies pairwise DISJOINT while preserving each copy's
  * internal near-dup structure exactly. Two consequences the smoke
  * checks as invariants, not just timings:
  *  - the exact answer scales exactly linearly (q66 emits precisely
  *    [[Factor]]× the sf pair count), so a timing exponent near 1.0
  *    measures the ALGORITHM, not answer growth;
  *  - per-shingle postings sizes are unchanged, so the capped paths'
  *    candidate work is provably per-copy — a super-linear exponent
  *    would expose hidden corpus-global work (a broadcast that grew, a
  *    driver collect, an uncapped fan-out).
  * Embeddings are replicated with offset vec_ids (values unchanged —
  * codebook training is hash-sample-bounded either way).
  *
  * Protocol per dir: one UNTIMED warmup run per query (JIT + the
  * memoized standing assets: shingle memo, postings index, codebooks —
  * infrastructure a deployment holds between queries), then
  * [[Iters]] timed runs; the minimum is the steady-state time (this
  * host stalls intermittently — see Bench's scaladoc — so min, not
  * mean). First-run (warmup) times are recorded too, so the one-time
  * asset-build cost has its own exponent in the artifact.
  */
object ScalingSmoke {

  val Factor = 10
  val CopyOffset = 1000000L // ≡ 0 mod DeltaMod(5): delta membership preserved per copy
  val Iters = 3

  /** Per-table synthesis-formula version, part of the staged-data
    * fingerprint — bump a table's entry whenever its synthesis code in
    * [[synthesize]] changes so older bigDirs restage it.
    */
  val TableFormulaV: Map[String, Int] = Map(
    "documents" -> 1, "events" -> 1, "embeddings" -> 1,
    "lineitem" -> 1, "orders" -> 1)

  def synthesize(spark: SparkSession, sfDir: String, bigDir: String): Unit = {
    val root = java.nio.file.Paths.get(bigDir)
    java.nio.file.Files.createDirectories(root)
    // per-table staleness check, NOT a single _OK marker: a bigDir
    // staged by an older smoke version lacks later-added tables, and a
    // blanket early-return would crash the new queries on missing paths.
    // Each table carries a `<table>.v` fingerprint of its synthesis
    // parameters — a later round that changes a formula (offset,
    // columns, Factor) restages instead of silently reusing stale
    // content and skewing the exponents. [[TableFormulaV]] must be
    // bumped alongside any synthesis-formula edit below.
    def fingerprint(table: String): String = {
      val v = TableFormulaV.getOrElse(table, sys.error(
        s"add '$table' to ScalingSmoke.TableFormulaV — every staged table " +
          "needs a synthesis-formula version in the fingerprint"))
      s"factor=$Factor offset=$CopyOffset formula=$v"
    }
    def staged(table: String): Boolean = {
      val v = root.resolve(s"$table.v")
      java.nio.file.Files.exists(root.resolve(s"$table.parquet")) &&
        java.nio.file.Files.exists(v) &&
        new String(java.nio.file.Files.readAllBytes(v),
          java.nio.charset.StandardCharsets.UTF_8) == fingerprint(table)
    }
    def stageSingleFile(df: DataFrame, table: String): Unit = {
      if (staged(table)) return
      val stage = s"$bigDir/_stage_$table"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = {
        val listing = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        try listing
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElseThrow()
        finally listing.close() // Files.list holds an open dir handle
      }
      // single FILE named <table>.parquet: the file-stream sources glob
      // on the file name, so a directory layout would stream nothing
      java.nio.file.Files.move(part, root.resolve(s"$table.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.write(root.resolve(s"$table.v"),
        fingerprint(table).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    stageSingleFile(
      (0 until Factor).map { c =>
        if (c == 0) docs
        else docs.select(
          (col("doc_id") + lit(c * CopyOffset)).as("doc_id"),
          array_join(
            transform(split(col("text"), " "), w => concat(w, lit(s"~$c"))),
            " ").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _),
      "documents")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    stageSingleFile(
      (0 until Factor).map { c =>
        ev.select(
          ((col("event_id") + lit(c * CopyOffset)).as("event_id") +:
            (col("user_id") + lit(c * CopyOffset)).as("user_id") +:
            ev.columns.filterNot(Set("event_id", "user_id")).map(col).toSeq): _*)
      }.reduce(_ unionByName _),
      "events")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    stageSingleFile(
      (0 until Factor).map { c =>
        emb.select((col("vec_id") + lit(c * CopyOffset)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _),
      "embeddings")
    // r15 layout family inputs: lineitem/orders with offset order keys
    // (part/supp keys unchanged, so q184's box matches Factor× rows and
    // the per-file key-density assumptions are preserved per copy)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    stageSingleFile(
      (0 until Factor).map { c =>
        li.select(
          ((col("l_orderkey") + lit(c * CopyOffset)).as("l_orderkey") +:
            li.columns.filterNot(_ == "l_orderkey").map(col).toSeq): _*)
      }.reduce(_ unionByName _),
      "lineitem")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    stageSingleFile(
      (0 until Factor).map { c =>
        ord.select(
          ((col("o_orderkey") + lit(c * CopyOffset)).as("o_orderkey") +:
            ord.columns.filterNot(_ == "o_orderkey").map(col).toSeq): _*)
      }.reduce(_ unionByName _),
      "orders")
    if (!java.nio.file.Files.exists(root.resolve("_OK")))
      java.nio.file.Files.createFile(root.resolve("_OK")) // informational only
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bigDir = args.lift(1).getOrElse("/tmp/graft_scale_10x_r15")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    synthesize(spark, sfDir, bigDir)

    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q66_ngram_jaccard_capped" -> (graft.pipeline.Dedup.ngramJaccardCapped _),
      "q103_delta_dedup_capped" -> (graft.pipeline.Dedup.deltaDedupCapped _),
      "q132_stream_delta_dedup" -> (graft.streaming.Events.streamDeltaDedupFinal _),
      "q40_ann_ivf" -> (graft.pipeline.Similarity.annIvf _),
      "q102_ivf_pq_ann" -> (graft.pipeline.Similarity.ivfPqAnn _),
      "q140_ann_delta_assign" -> (graft.pipeline.Similarity.annDeltaAssign _),
      // r13 scale-path additions: the bottom-k overlap sketch (bounded
      // signature agg over a 10x shingle universe) and the positional
      // phrase index (corpus-scale postings, bounded probe)
      "q159_source_overlap_sketch" -> (graft.pipeline.Dedup.sourceOverlapSketch _),
      "q163_phrase_search" -> (graft.pipeline.Retrieval.phraseSearch _),
      // r14/r15: the decode pipelines — strictly per-doc bounded work
      // (decode + 64-term IDCT per pixel), so their exponents should
      // sit at ~1.0 (pure linear) with zero corpus-global stages
      "q167_jpeg_decode" -> (graft.pipeline.Multimodal.jpegFeatures _),
      "q174_jpeg_color_decode" -> (graft.pipeline.Multimodal.jpegColorFeatures _),
      "q175_jpeg_progressive" -> (graft.pipeline.Multimodal.jpegProgressiveFeatures _),
      "q179_jpeg_progressive_color" ->
        (graft.pipeline.Multimodal.jpegProgressiveColorFeatures _),
      "q170_y4m_decode" -> (graft.pipeline.Multimodal.y4mFeatures _),
      "q180_video_codec" -> (graft.pipeline.Video.gvcFeatures _),
      "q181_video_bframes" -> (graft.pipeline.Video.gvcBFeatures _),
      // r15: the resample family — per-user grid generation + the native
      // as-of merge; user count scales 10x, per-user span is identical
      // by construction, so the exponent measures the join/grid path
      "q172_resample_ffill" -> (graft.rel.Queries.q172ResampleFfill _),
      "q173_resample_interp" -> (graft.rel.Queries.q173ResampleInterp _),
      // r15 layout/maintenance family: every stage is a bounded number
      // of linear passes (clustered write, manifest fold, semi-join
      // marks, windowed history), so exponents should sit at ~1.0 —
      // a super-linear one would expose an accidental all-pairs or
      // corpus-global collect
      "q184_zorder_skipping" -> (graft.rel.Queries.q184ZOrderSkipping _),
      "q185_bloom_skipping" -> (graft.rel.Queries.q185BloomSkipping _),
      "q186_scd2_incremental" -> (graft.rel.Queries.q186Scd2Incremental _),
      "q189_mor_upsert" -> (graft.rel.Queries.q189MorUpsert _),
      "q192_hidden_partition_day" -> (graft.rel.Queries.q192HiddenPartitionDay _),
      // r16: CDF + compaction. The upsert batches are carved from the
      // table (o_orderkey % 11 / % 97), so |batch| scales WITH |table|
      // here and batch-proportional cost shows as exponent ~1 — the
      // claim under test is "no super-linear table-global stage", i.e.
      // the CDF never diffs the table (q191: opens only tombstone-named
      // files) and compaction is one linear rewrite (q196 whole-table,
      // q197 per-partition clustered under the snapshot commit)
      "q191_change_data_feed" -> (graft.rel.Queries.q191ChangeDataFeed _),
      "q196_mor_compaction" -> (graft.rel.Queries.q196MorCompaction _),
      "q197_snapshot_zorder" ->
        (graft.streaming.Events.snapshotClusteredCompaction _),
      // r17 partition-evolution reads: per-era directory pruning over
      // memoized era layouts — read cost must track the derived-dir
      // slice (both eras prune), not the corpus size
      "q207_partition_evolution" ->
        (graft.rel.Queries.q207PartitionEvolution _),
      "q209_bucket_evolution" -> (graft.rel.Queries.q209BucketEvolution _))

    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    def timeDir(dir: String): Map[String, (Double, Seq[Double])] = {
      graft.pipeline.TextAnalysis.warmShared(spark, dir)
      graft.pipeline.Dedup.warmShared(spark, dir)
      queries.map { case (name, fn) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val first = once() // warmup: JIT + memoized standing assets
        val runs = (1 to Iters).map(_ => once())
        System.gc()
        name -> (first, runs)
      }.toMap
    }

    val small = timeDir(sfDir)
    val big = timeDir(bigDir)

    // linearity invariant: disjoint copies -> exactly Factor x the pairs
    val pairsSmall = graft.pipeline.Dedup.ngramJaccardCapped(spark, sfDir).count()
    val pairsBig = graft.pipeline.Dedup.ngramJaccardCapped(spark, bigDir).count()

    // SPILL GATE (SURVEY §4: the reference's reducer state is an
    // unbounded in-process map; Spark's replacement must stay correct
    // when it spills): run the q16 shingle-pair aggregation in a session
    // squeezed so the hash aggregate provably falls back and writes
    // spill files, and record bytes + answer parity in the artifact.
    // SpillSuite is the per-commit unit twin at sf0.001.
    val spillGate = {
      val ss = graft.Sessions.child(spark)
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      ss.conf.set("spark.sql.TungstenAggregate.testFallbackStartsAt", "10000, 20000")
      val df = graft.pipeline.Dedup.ngramJaccard(ss, sfDir)
      val squeezed = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val spillBytes = df.queryExecution.executedPlan.collect { case n => n }
        .flatMap(_.metrics.get("spillSize").map(_.value).filter(_ > 0L)).sum
      val base = graft.pipeline.Dedup.ngramJaccard(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      s""""spill_gate":{"query":"q16_ngram_jaccard","spill_bytes":$spillBytes,""" +
        s""""rows":${base.size},"match":${squeezed == base}}"""
    }

    val lnF = math.log(Factor.toDouble)
    val perQuery = queries.map { case (name, _) =>
      val (fs, rs) = small(name)
      val (fb, rb) = big(name)
      val ts = rs.min; val tb = rb.min
      val exp = math.log(tb / ts) / lnF
      val expFirst = math.log(fb / fs) / lnF
      s""""$name":{"t_small":${fmt(ts)},"t_big":${fmt(tb)},"exponent":${fmt(exp)},""" +
        s""""first_small":${fmt(fs)},"first_big":${fmt(fb)},"first_exponent":${fmt(expFirst)},""" +
        s""""runs_small":${rs.map(fmt).mkString("[", ",", "]")},""" +
        s""""runs_big":${rb.map(fmt).mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"factor":$Factor,"iters":$Iters,"sf_small":"$sfDir","dir_big":"$bigDir",
         |"q66_pairs_small":$pairsSmall,"q66_pairs_big":$pairsBig,
         |"pairs_exactly_linear":${pairsBig == Factor * pairsSmall},
         |$spillGate,
         |"queries":$perQuery}""".stripMargin.replace("\n", "")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("SCALING.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
