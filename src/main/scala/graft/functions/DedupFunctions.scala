package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB-scale corpora.
  *
  * Design stance: every variant reduces to hash-partitioned joins/aggregates
  * on compact keys (fingerprints, band hashes, bit signatures) — never a
  * cross-join of documents, never driver state — so each scales with
  * `spark.sql.shuffle.partitions`, not with corpus size².
  *
  * The shared 60-bit deterministic hash `h(s) = int(md5(s)[0:15], 16)` is
  * chosen for being reproducible in any engine (the DuckDB oracle mirrors it
  * literally), seeded by prefixing `"<seed>|"`.
  */
object DedupFunctions {

  /** Cross-engine 60-bit hash of a string column. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Stop-key mitigation for bucket self-joins: drop rows whose join-key
    * value occurs in more than `cap` rows. A key shared by k documents
    * yields k² join rows, and unlike MinHash band keys (selective by
    * construction) winnow fingerprints of genuinely common passages —
    * site footers, license boilerplate — are SUPPOSED to collide: at web
    * scale one fingerprint can sit in 10⁵–10⁶ docs (10¹² pair rows from a
    * single key). Schleimer et al.'s deployed MOSS does exactly this:
    * fingerprints above a document-frequency ceiling are dropped as
    * uninformative "stop fingerprints" before matching.
    *
    * Cost at scale: one window count partitioned by the key — a single
    * shuffle whose output partitioning
    * (`hashpartitioning(key)`) is exactly what the downstream equi-join
    * requires, so the join reuses it instead of adding its own exchange.
    * `cap <= 0` disables.
    */
  private def capHotKeys(t: DataFrame, cap: Int, keyCols: String*): DataFrame =
    if (cap <= 0) t
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
      t.withColumn("_keyfreq", count(lit(1)).over(w))
        .where(col("_keyfreq") <= cap).drop("_keyfreq")
    }

  /** Seed-i variant for minhash families. */
  def seededHash60(seed: Int, c: Column): Column =
    hash60(concat(lit(seed.toString), lit("|"), c))

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup on a fingerprint: one row per distinct normalized content,
    * keeping the smallest id (deterministic winner). One hash-aggregate —
    * the cheapest possible full-corpus dedup.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("_fp", TextFunctions.fingerprint(col(textCol)))
      .groupBy(col("_fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Incremental (cross-corpus) exact dedup — the shape every PRODUCTION
    * dedup actually runs: a new crawl batch arrives and must be deduped
    * BOTH against the existing corpus and within itself, without ever
    * re-processing the corpus. Two steps, each one shuffle on md5 keys:
    *
    *   1. anti-join the batch against the corpus's distinct fingerprint
    *      set (content already in the corpus is dropped);
    *   2. within the surviving batch, keep the smallest id per fingerprint
    *      (the same deterministic winner rule as [[exactDedup]]).
    *
    * Returns the surviving batch rows with their original columns. The
    * corpus side reduces to a fingerprint-only projection before the join
    * — at 100 TB that column prunes to one md5 per doc at the scan, and
    * the anti-join is a plain hash-partitioned equi-join (AQE broadcasts
    * it when the corpus is genuinely small; no forced broadcast — the
    * corpus side is the BIG side here, the exact hazard
    * [[keepRepresentatives]]'s size-gate exists for). In steady state the
    * corpus fingerprint projection would be a maintained sketch table;
    * both layouts read identically through this join.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val corpusFps = corpus
      .select(TextFunctions.fingerprint(col(textCol)).as("_fp")).distinct()
    val fresh = batch
      .withColumn("_fp", TextFunctions.fingerprint(col(textCol)))
      .join(corpusFps, Seq("_fp"), "left_anti")
    val winners = fresh.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    fresh.join(winners, Seq(idCol))
      .select(batch.columns.map(col).toSeq: _*)
  }

  /** [[incrementalDedup]] with a Bloom semi-join reduction — the textbook
    * accelerator for crawl-vs-corpus dedup at 100 TB. Results are EXACT
    * (identical to [[incrementalDedup]], spec-pinned and oracle-shared):
    * the sketch can only err toward false POSITIVES, and every positive
    * is verified by the exact join; a negative probe proves the
    * fingerprint absent, so bloom-negative batch rows skip the join
    * entirely.
    *
    * Dataflow: ONE pass over the corpus builds the filter
    * (`treeAggregate` of `putString`s — the per-partition imperative
    * sketch build RDDs exist for); the batch pre-screens against the
    * plan-carried filter ([[expressions.BloomMightContain]], codegen'd);
    * the surviving "suspicious" fingerprints (true dups + ~fpp of the
    * batch) are counted and, under `broadcastMaxSuspicious`, BROADCAST
    * against the corpus fingerprints in a left-semi join — the corpus is
    * scanned map-side and never shuffled, which is the entire point at
    * corpus ≫ batch scale (plain [[incrementalDedup]] shuffles every
    * corpus fingerprint every batch). A degenerate batch (mostly dups)
    * past the gate falls back to exactly the plain shuffle anti-join.
    *
    * Driver envelope: the filter is `-n·ln(fpp)/ln²2` bits — 10⁸
    * fingerprints at 1% ≈ 114 MB, the intended ceiling for the
    * plan-carried filter; beyond that, shard the corpus and run one
    * batch-vs-shard pass per filter (or stay with [[incrementalDedup]]).
    */
  def incrementalDedupBloom(batch: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String,
                            expectedDistinct: Long, fpp: Double = 0.01,
                            broadcastMaxSuspicious: Long = 4000000L): DataFrame = {
    require(expectedDistinct > 0 && fpp > 0 && fpp < 1,
      s"need expectedDistinct > 0 and 0 < fpp < 1, got $expectedDistinct/$fpp")
    val spark = batch.sparkSession
    import spark.implicits._
    val corpusFps = corpus
      .select(TextFunctions.fingerprint(col(textCol)).as("_fp"))
    // null fingerprints (null text) never match an equi-join key, so they
    // carry no dedup signal — skip them in the sketch build (putString
    // would NPE on null) and route null-fp batch rows through the exact
    // join path below, where the anti-join keeps them just like
    // [[incrementalDedup]] does.
    val bf = corpusFps.where(col("_fp").isNotNull).as[String].rdd
      .treeAggregate(
        org.apache.spark.util.sketch.BloomFilter.create(expectedDistinct, fpp))(
        (f, s) => { f.putString(s); f }, (a, b) => a.mergeInPlace(b))
    val batchFp = batch
      .withColumn("_fp", TextFunctions.fingerprint(col(textCol)))
    val maybe = expressions.BloomMightContain
      .bloomMightContain(col("_fp"), bf)
    val definiteNew = batchFp.where(!maybe)
    val suspicious = batchFp.where(coalesce(maybe, lit(true)))
    val suspFps = suspicious.select(col("_fp")).distinct()
      .localCheckpoint(true) // read twice: the count gate + one join side
    val fresh =
      if (suspFps.count() <= broadcastMaxSuspicious) {
        val hits = corpusFps
          .join(broadcast(suspFps), Seq("_fp"), "left_semi").distinct()
        suspicious.join(hits, Seq("_fp"), "left_anti") // hits tiny → AQE broadcasts
      } else {
        suspicious.join(corpusFps.distinct(), Seq("_fp"), "left_anti")
      }
    val allFresh = fresh.unionByName(definiteNew)
    val winners = allFresh.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    allFresh.join(winners, Seq(idCol))
      .select(batch.columns.map(col).toSeq: _*)
  }

  // --------------------------------------------------------------- minhash

  /** MinHash signature over word `shingleSize`-shingles: `k` seeded hash
    * functions, each keeping the min over the shingle set. Native
    * expression ([[expressions.MinHash60]]): ONE md5 per shingle plus k
    * arithmetic seeded variants in a tight loop — per-row, shuffle-free,
    * and ~10× cheaper than the equivalent higher-order-function pipeline
    * (which Spark evaluates with interpreted lambdas).
    */
  def minhashSignature(text: Column, k: Int, shingleSize: Int = 3): Column =
    expressions.MinHash60.minhash60(TextFunctions.shingles(text, shingleSize), k)

  /** LSH band keys: signature split into `nBands` bands of `rowsPerBand`,
    * each band hashed to one string key. Two documents collide on a band
    * key iff that band of their signatures matches exactly.
    */
  def bandKeys(signature: Column, nBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(nBands - 1)),
      b => concat(b.cast("string"), lit(":"),
        md5(concat_ws(",",
          transform(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)),
            v => v.cast("string"))))))

  /** MinHash-LSH candidate pairs: shingle → minhash → band → bucket-join.
    *
    * Scale shape: `posexplode(bands)` multiplies rows by nBands (cheap,
    * narrow), then ONE shuffle on the band key joins colliding docs. Bucket
    * sizes are bounded by collision probability, so the per-bucket pair
    * expansion never approaches n² — this is the standard LSH join, the
    * scale path for fuzzy dedup at 100 TB.
    *
    * The banded signature table is materialized ONCE (the self-join would
    * otherwise recompute the full shingle+hash pipeline on both sides).
    * Default materialization is an eager local checkpoint — executor
    * memory/disk, released by the ContextCleaner when the result goes out
    * of scope. At 100 TB pass `stagingPath` instead: the banded table is
    * written to storage as parquet and BOTH join sides read the file —
    * no big intermediate pinned in the block manager at all, and the
    * staged signatures can be reused by later passes (the clusters query
    * reads them twice more).
    *
    * Returns distinct (id_a < id_b) candidate pairs with their exact
    * token-set Jaccard for threshold filtering downstream.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 12, nBands: Int = 4, shingleSize: Int = 3,
                        stagingPath: Option[String] = None,
                        maxBandFreq: Int = 0): DataFrame = {
    val sigs = bandedSignatures(df, idCol, textCol, k, nBands, shingleSize,
      stagingPath, maxBandFreq)
    val a = sigs.select(col("_band"), col("_id").as("id_a"), col("_toks").as("_toks_a"))
    val b = sigs.select(col("_band"), col("_id").as("id_b"), col("_toks").as("_toks_b"))
    a.join(b, Seq("_band"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("_toks_a"), col("_toks_b")).as("jaccard"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("jaccard")).as("jaccard"))
  }

  /** The materialized banded-signature table both MinHash joins read:
    * `(_id, _toks, _band)`, one row per (doc, band).
    */
  private def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                               k: Int, nBands: Int, shingleSize: Int,
                               stagingPath: Option[String],
                               maxBandFreq: Int = 0): DataFrame = {
    val rowsPerBand = k / nBands
    // band keys are selective by construction (whole-signature bands), but
    // a corpus with MANY exact/near copies of one page still produces one
    // hot band per copy set — cappable like the winnow fingerprints.
    // OPT-IN (default 0 = off): a cap silently drops every pair of a copy
    // family larger than the cap, so any caller that is checked against an
    // independent oracle must mirror the same stop rule there (the bench
    // queries pass 1000 and their DuckDB SQL carries the matching
    // `HAVING count(*) <= 1000` band filter).
    val banded = capHotKeys(
      df.select(
        col(idCol).as("_id"),
        TextFunctions.tokens(col(textCol)).as("_toks"),
        minhashSignature(col(textCol), k, shingleSize).as("_sig"))
      // null-signature skip (tokenless docs): bandKeys' concat_ws would
      // otherwise fold the null signature into one shared band key and
      // pair every blank document with every other
      .where(col("_sig").isNotNull)
      .withColumn("_band", explode(bandKeys(col("_sig"), nBands, rowsPerBand)))
      .select(col("_id"), col("_toks"), col("_band")),
      maxBandFreq, "_band")
    stagingPath match {
      case Some(path) =>
        banded.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
      case None =>
        banded.localCheckpoint(true)
    }
  }

  /** Cross-corpus MinHash-LSH candidates — the FUZZY half of
    * [[incrementalDedup]]: band keys of the new batch join band keys of
    * the existing corpus, so a near-duplicate of corpus content is found
    * WITHOUT ever self-joining the corpus (its banded signatures are
    * computed once here, and in steady state would be the maintained
    * signature table `stagingPaths` point at). Returns distinct
    * `(batch_id, corpus_id, jaccard)` candidates; dropping every batch id
    * with a candidate above threshold is the near-dup analogue of the
    * exact anti-join.
    *
    * Scale shape: identical to [[minhashCandidates]] — one equi-join on
    * the band key, bucket sizes bounded by collision probability, no n².
    * Both banded tables stage independently (the corpus one is the big
    * side and is exactly what a production pipeline keeps on storage
    * between crawls).
    */
  def minhashCandidatesAcross(batch: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 12, nBands: Int = 4,
                              shingleSize: Int = 3,
                              batchStagingPath: Option[String] = None,
                              corpusStagingPath: Option[String] = None,
                              maxBandFreq: Int = 0): DataFrame = {
    val b = bandedSignatures(batch, idCol, textCol, k, nBands, shingleSize,
        batchStagingPath, maxBandFreq)
      .select(col("_band"), col("_id").as("batch_id"), col("_toks").as("_toks_b"))
    val c = bandedSignatures(corpus, idCol, textCol, k, nBands, shingleSize,
        corpusStagingPath, maxBandFreq)
      .select(col("_band"), col("_id").as("corpus_id"), col("_toks").as("_toks_c"))
    b.join(c, Seq("_band"))
      .select(col("batch_id"), col("corpus_id"),
        jaccard(col("_toks_b"), col("_toks_c")).as("jaccard"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(first(col("jaccard")).as("jaccard"))
  }

  /** Distinct-element Jaccard similarity of two token arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") /
                 size(array_union(a, b)))

  /** n-gram Jaccard near-dup pairs inside explicit blocks (`blockCol`):
    * the classic blocked-comparison pattern — equi-join on the block key
    * (one shuffle), pairwise Jaccard only within blocks. Shingles are
    * pre-hashed to 60-bit longs ONCE per document, so the per-pair
    * intersect/union works on compact long arrays instead of re-hashing
    * strings 2× per candidate pair.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int = 3,
                        threshold: Double = 0.0,
                        stagingPath: Option[String] = None,
                        maxBlockSize: Int = 0): DataFrame = {
    // both self-join sides read the prepped table (without a boundary the
    // shingle+hash projection would execute twice over the corpus).
    // Default: eager local checkpoint — executor memory/disk, released by
    // the ContextCleaner once the result is unreachable (a persist would
    // stay pinned for the session lifetime). At 100 TB pass `stagingPath`:
    // the prepped table goes to parquet and both sides read the FILE, so
    // nothing sits in the block manager at all (same escape hatch as
    // [[minhashCandidates]]).
    // `maxBlockSize` (default OFF): the block key is USER-chosen semantics
    // — a coarse block (e.g. language) legitimately holds far more than
    // 1000 docs, and capping would silently drop whole blocks. Opt in when
    // the block key is a generated bucket with skew risk; the within-block
    // all-pairs cost is otherwise the caller's explicit contract.
    val projected = capHotKeys(
      df.select(col(blockCol).as("_blk"), col(idCol).as("_id"),
        sort_array(array_distinct(transform(TextFunctions.shingles(col(textCol), n),
          s => hash60(s)))).as("_sh")),
      maxBlockSize, "_blk")
    val prepped = stagingPath match {
      case Some(path) =>
        projected.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
      case None => projected.localCheckpoint(true)
    }
    val a = prepped.select(col("_blk"), col("_id").as("id_a"), col("_sh").as("_sh_a"))
    val b = prepped.select(col("_blk"), col("_id").as("id_b"), col("_sh").as("_sh_b"))
    a.join(b, Seq("_blk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expressions.SortedJaccard.sorted_jaccard(col("_sh_a"), col("_sh_b"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Winnowing near-dup candidate pairs: documents sharing at least
    * `minShared` winnowed fingerprints
    * ([[TextFunctions.winnowedFingerprints]] — any shared passage of
    * ≥ w+n−1 tokens guarantees a shared fingerprint, so this catches
    * passage-level overlap MinHash's whole-document similarity dilutes
    * away). Same banded equi-join shape as [[minhashCandidates]]:
    * explode (fingerprint, id), self-join on the fingerprint, count per
    * pair — one shuffle, no all-pairs comparison. A fingerprint shared
    * by k docs contributes k² pair rows (the standard LSH-bucket skew),
    * and common-passage fingerprints are the one bucket key that is
    * EXPECTED to go hot, so fingerprints with document frequency above
    * `maxDocFreq` are dropped before the self-join ([[capHotKeys]] — the
    * MOSS stop-fingerprint rule; boilerplate that widespread carries no
    * near-dup signal and should also be stripped via
    * [[removeRepeatedSpans]]). `stagingPath` is the same at-scale escape
    * hatch as the other pair generators: fingerprints go to parquet
    * (already capped) and both join sides read the file instead of a
    * block-manager checkpoint.
    */
  def winnowNearDups(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, w: Int = 8, minShared: Int = 2,
                     stagingPath: Option[String] = None,
                     maxDocFreq: Int = 1000): DataFrame = {
    require(minShared > 0, "minShared must be positive")
    val projected = capHotKeys(
      df.select(col(idCol).as("_id"),
        explode(TextFunctions.winnowedFingerprints(col(textCol), n, w))
          .as("_fp")),
      maxDocFreq, "_fp")
    val fps = stagingPath match {
      case Some(path) =>
        projected.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
      case None => projected.localCheckpoint(true)
    }
    val a = fps.select(col("_fp"), col("_id").as("id_a"))
    val b = fps.select(col("_fp"), col("_id").as("id_b"))
    a.join(b, Seq("_fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  // --------------------------------------------------------------- simhash

  /** 60-bit SimHash over the token multiset: each token's 60-bit hash votes
    * ±1 per bit position; the sign vector packs into one long. Native
    * expression ([[expressions.SimHash60]]) — per-row, shuffle-free, one
    * md5 + 60 integer ops per token.
    */
  def simhash64(text: Column): Column =
    expressions.SimHash60.simhash60(TextFunctions.tokens(text))

  /** Hamming distance between two packed simhashes. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a Hamming radius, via multi-index band
    * blocking (the Manku/Jain/Sarma web-dedup construction): split the
    * 60-bit signature into `maxHamming + 1` bands — two signatures within
    * the radius MUST agree exactly on at least one band (pigeonhole), so an
    * equi-join on (band index, band bits) finds every qualifying pair with
    * ONE shuffle and no n² comparison; the exact Hamming filter then drops
    * the false candidates. 60 must divide evenly by `maxHamming + 1`
    * (default radius 3 → 4 bands × 15 bits).
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      stagingPath: Option[String] = None,
                      maxBandFreq: Int = 0): DataFrame =
    // one maintained blocking pipeline: signature here, banding/join/
    // distinct in [[hammingNearDups]] (null signatures previously paired
    // into null hamming and fell to the radius filter; the shared path
    // skips them up front — identical output, less work)
    hammingNearDups(
      df.select(col(idCol).as("_id"), simhash64(col(textCol)).as("_sig")),
      "_id", "_sig", sigBits = 60, maxHamming = maxHamming,
      maxBandFreq = maxBandFreq, stagingPath = stagingPath)

  /** Hamming-radius near-dup pairs over PRECOMPUTED integer signatures —
    * the same multi-index band blocking as [[simhashNearDups]] but
    * signature-agnostic, so any 64-bit-or-narrower perceptual key plugs
    * in (image dHash via
    * [[graft.multimodal.Multimodal.imageHashes]], audio fingerprints,
    * rolling hashes). `sigBits` must divide evenly by `maxHamming + 1`
    * (64-bit keys: radius 0/1/3/7/…); pigeonhole gives exact recall in
    * the radius with ONE equi-join shuffle. Null signatures (e.g.
    * undecodable images) are skipped. `maxBandFreq` opt-in as in the
    * text variants.
    */
  def hammingNearDups(df: DataFrame, idCol: String, sigCol: String,
                      sigBits: Int = 64, maxHamming: Int = 3,
                      maxBandFreq: Int = 0,
                      stagingPath: Option[String] = None): DataFrame = {
    val nBands = maxHamming + 1
    require(sigBits > 0 && sigBits <= 64 && sigBits % nBands == 0,
      s"maxHamming + 1 = $nBands must divide sigBits = $sigBits")
    val bandBits = sigBits / nBands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    // both self-join sides read the signatures — materialize once so an
    // expensive upstream lineage (simhash over text, image decode, frame
    // demux) doesn't run twice. Default: eager local checkpoint (not
    // persist) — released by the ContextCleaner once the result is no
    // longer referenced. At 100 TB pass `stagingPath`: the signature
    // table goes to parquet and both sides read the FILE — no big
    // intermediate in the block manager (same escape hatch as
    // minhashCandidates); banding is two integer ops per row and
    // recomputes for free on each read.
    val projected = df.select(col(idCol).as("_id"),
      col(sigCol).cast("long").as("_sig")).where(col("_sig").isNotNull)
    val sigs = stagingPath match {
      case Some(path) =>
        projected.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
      case None => projected.localCheckpoint(true)
    }
    val banded = capHotKeys(
      sigs.select(col("_id"), col("_sig"),
        explode(array((0 until nBands).map(b => struct(
          lit(b).as("b"),
          shiftrightunsigned(col("_sig"), b * bandBits)
            .bitwiseAND(lit(mask)).as("bits")
        )): _*)).as("_band")),
      maxBandFreq, "_band")
    val a = banded.select(col("_band"), col("_id").as("id_a"),
      col("_sig").as("_sig_a"))
    val bb = banded.select(col("_band"), col("_id").as("id_b"),
      col("_sig").as("_sig_b"))
    a.join(bb, Seq("_band"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("_sig_a"), col("_sig_b")).cast("long").as("hamming"))
      .distinct() // pairs sharing several bands appear once
      .where(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicate pairs within blocks: equi-join on the
    * block key, cosine over `zip_with`/`aggregate` (codegen'd), threshold
    * filter. For unblocked corpora compose with
    * [[SimilarityFunctions.lshBucket]] as the block key.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        blockCol: String, threshold: Double): DataFrame = {
    // unusable (null / non-finite) vectors skipped — SimilarityFunctions
    // .finiteVec; NaN cosines rank non-portably and carry no signal
    val v = df.where(SimilarityFunctions.finiteVec(vecCol))
      .select(col(blockCol).as("_blk"), col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
    val a = v.select(col("_blk"), col("_id").as("id_a"), col("_v").as("_v_a"))
    val b = v.select(col("_blk"), col("_id").as("id_b"), col("_v").as("_v_b"))
    a.join(b, Seq("_blk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        SimilarityFunctions.cosine(col("_v_a"), col("_v_b")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  // ------------------------------------------------- semantic dedup

  /** SemDeDup drop set (Abbas et al. 2023, arXiv:2303.09540) over a
    * pre-assigned k-means partition of embedding space: within each cell,
    * any vector with a cosine-`threshold` neighbor of smaller id is
    * dropped, keeping exactly the id-minimal member of every within-cell
    * duplicate chain. `assigned` is [[SimilarityFunctions.IvfIndex.assign]]
    * output (`neighbor_id`, `_cv`, `_cell`) — typically read back from the
    * persisted inverted file, so dedup reuses the ANN index instead of
    * re-clustering.
    *
    * Scale shape: ONE equi-join on the cell id — the cluster partition
    * bounds the quadratic comparison to cell-size², which is the whole
    * point of the method (cells ≈ √n keeps every cell's pair count ≈ n).
    * Cross-cell near-dups are the measured approximation; every emitted
    * drop is backed by an exactly-computed cosine, so the drop set is
    * always a SUBSET of the brute-force one (precision 1, recall < 1).
    */
  def semanticDedupDrops(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("_cell"), col("neighbor_id").as("id_a"),
      col("_cv").as("_v_a"))
    val b = assigned.select(col("_cell"), col("neighbor_id").as("id_b"),
      col("_cv").as("_v_b"))
    a.join(b, Seq("_cell"))
      .where(col("id_a") < col("id_b"))
      .where(SimilarityFunctions.cosine(col("_v_a"), col("_v_b")) >= threshold)
      .select(col("id_b").as("drop_id")).distinct()
  }

  /** One-shot SemDeDup: train the coarse quantizer on a bounded sample,
    * assign every vector in one map-only pass, drop within-cell cosine
    * near-dups, anti-join the survivors. Long-lived corpora should run
    * the [[SimilarityFunctions.ivfTrain]] → `assign` → persist lifecycle
    * and call [[semanticDedupDrops]] on the stored inverted file.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, cells: Int = 16, probes: Int = 2,
                    seed: Long = 42L, maxTrainRows: Long = 100000L): DataFrame = {
    val index = SimilarityFunctions.ivfTrain(df, vecCol, cells, seed, maxTrainRows)
    val drops = semanticDedupDrops(
      index.assignProbes(df, idCol, vecCol, probes), threshold)
    df.join(drops, df(idCol) === drops("drop_id"), "left_anti")
  }

  // ------------------------------------------------- decontamination

  /** Benchmark decontamination: corpus documents sharing ANY exact word
    * n-gram with a probe set (the standard eval-set-contamination check).
    * Probe grams are tiny relative to any corpus (benchmark suites) and
    * broadcast; the corpus side is a map-only explode of pre-hashed
    * distinct grams plus one count aggregation — no n², no corpus shuffle
    * against itself. Returns (id, n_shared) for contaminated docs only.
    */
  def ngramContamination(corpus: DataFrame, probes: DataFrame, idCol: String,
                         textCol: String, n: Int = 3): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol).as("_id"),
      explode(array_distinct(transform(TextFunctions.shingles(col(textCol), n),
        s => hash60(s)))).as("_g"))
    val probeGrams = grams(probes).select(col("_g")).distinct()
    grams(corpus).join(broadcast(probeGrams), "_g")
      .groupBy(col("_id").as(idCol)).agg(count(lit(1)).as("n_shared"))
  }

  /** Paragraph-level exact dedup across the corpus — the line-granular
    * dedup stage of RefinedWeb (Penedo et al. 2023) / MassiveText (Rae et
    * al. 2021): boilerplate paragraphs (headers, footers, license blocks)
    * repeat across millions of pages and should be removed without
    * dropping the documents that carry them. Every distinct normalized
    * line keeps exactly ONE occurrence corpus-wide — in its smallest doc
    * id, at its first position there — and is removed everywhere else;
    * documents are reassembled from their surviving lines (possibly
    * empty). The token-window analogue is [[removeRepeatedSpans]]; this
    * is the cheaper, line-boundary-respecting form every web pipeline
    * runs first.
    *
    * Scale shape: one line explode (∝ corpus lines), one map-side-
    * combinable min-aggregate on the line fingerprint (owner table, one
    * row per DISTINCT line), one equi-join back on the md5 fingerprint
    * (uniform keys, no skew), one per-doc reassembly aggregate bounded by
    * document size. No windows, no self-join, nothing ∝ n².
    *
    * Returns the input columns plus `n_lines`, `n_kept_lines` and
    * `clean_text`.
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NULL text = empty text (0 lines in, 0 lines kept) — posexplode of a
    // null array would silently drop the doc from the rebuilt output
    val lines = df.select(col(idCol).as("_id"),
        posexplode(TextFunctions.lines(coalesce(col(textCol), lit(""))))
          .as(Seq("_idx", "_ln")))
      .withColumn("_fp", TextFunctions.fingerprint(col("_ln")))
    // lexicographic (doc, idx) min per fingerprint = the one surviving
    // occurrence of each distinct line
    val owners = lines.groupBy(col("_fp"))
      .agg(min(struct(col("_id"), col("_idx"))).as("_o"))
      .select(col("_fp"), col("_o").getField("_id").as("_oid"),
        col("_o").getField("_idx").as("_oidx"))
    val kept = lines.join(owners, Seq("_fp"))
      .where(col("_id") === col("_oid") && col("_idx") === col("_oidx"))
    val rebuilt = kept.groupBy(col("_id")).agg(
      count(lit(1)).as("n_kept_lines"),
      array_join(
        transform(array_sort(collect_list(struct(col("_idx"), col("_ln")))),
          s => s.getField("_ln")), "\n").as("clean_text"))
    df.withColumn("n_lines",
        size(TextFunctions.lines(coalesce(col(textCol), lit("")))).cast("long"))
      .join(rebuilt, col(idCol) === rebuilt("_id"), "left")
      .drop("_id")
      .withColumn("n_kept_lines", coalesce(col("n_kept_lines"), lit(0L)))
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
  }

  // ------------------------------------------------ repeated passages

  /** Cross-document repeated passages — the windowed form of
    * exact-substring training-data dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": verbatim passages
    * repeated across documents are memorization fuel and should be found
    * at token granularity, not whole-document granularity).
    *
    * Every `windowTokens`-token window (stride 1, [[TextFunctions.shingles]])
    * is keyed by its md5; windows whose key occurs in more than one
    * document are repeated passages. One explode + one hash-aggregate on
    * the window key — map-side combinable, skew-free (md5 keys), candidate
    * output ∝ actual repetition, never n². At 100 TB this is the same
    * shape as the MinHash band join; the window key doubles as the
    * blocking key for any downstream span-removal pass.
    *
    * Returns one row per repeated passage:
    * `(win_hash, n_docs, n_occurrences, first_doc)`.
    */
  def repeatedPassages(df: DataFrame, idCol: String, textCol: String,
                       windowTokens: Int = 5): DataFrame =
    passageWindows(df, idCol, textCol, windowTokens)
      .groupBy(col("win_hash"))
      .agg(count_distinct(col("_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("_id")).as("first_doc"))
      .where(col("n_docs") > 1)

  /** Stride-1 token windows keyed by md5, one row per occurrence. Docs
    * with NO tokens (empty or null text) emit no windows at all — the
    * short-text fallback would otherwise give every blank document the
    * same "" window, reporting all blank docs as sharing a repeated
    * passage (a spurious dedup signal).
    */
  private def passageWindows(df: DataFrame, idCol: String, textCol: String,
                             windowTokens: Int): DataFrame =
    df.select(col(idCol).as("_id"), coalesce(col(textCol), lit("")).as("_t"))
      .where(size(TextFunctions.tokens(col("_t"))) > 0)
      .select(col("_id"),
        explode(TextFunctions.shingles(col("_t"), windowTokens)).as("_w"))
      .select(col("_id"), md5(col("_w")).as("win_hash"))

  /** Per-document share of token windows that also occur in ANOTHER
    * document — the gate-able "duplicate passage coverage" signal (a doc
    * that is 60% shared passages is boilerplate even if no single whole-doc
    * duplicate exists). Zero-token documents (empty/null text) report
    * `(id, 0, 0)` — they share nothing (see [[passageWindows]]).
    *
    * ONE exploded pass, no persist, no join-back: windows collapse to
    * distinct (window, doc) rows first (map-side combinable), the
    * cross-doc count comes from a window function OVER the window key
    * (md5 keys — skew-free partitions), and the per-doc rollup is a final
    * hash aggregate. Nothing is pinned in cache and the corpus is scanned
    * once — at 100 TB the previous persist held the full tokenized corpus.
    *
    * Returns `(id, n_windows, shared_bp)` for every input document.
    */
  def passageDupCoverage(df: DataFrame, idCol: String, textCol: String,
                         windowTokens: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perWinDoc = passageWindows(df, idCol, textCol, windowTokens)
      .groupBy(col("win_hash"), col("_id"))
      .agg(count(lit(1)).as("_occ"))
    // rows per win_hash = distinct docs containing it
    val flagged = perWinDoc.withColumn("_nd",
      count(lit(1)).over(Window.partitionBy(col("win_hash"))))
    val covered = flagged.groupBy(col("_id"))
      .agg(sum(col("_occ")).as("n_windows"),
        TextFunctions.basisPoints(
          sum(when(col("_nd") > 1, col("_occ")).otherwise(lit(0L)))
            .cast("double") / sum(col("_occ")))
          .as("shared_bp"))
    // zero-token docs emitted no windows — restore their (id, 0, 0) rows
    df.select(col(idCol).as("_id")).join(covered, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("shared_bp"), lit(0L)).as("shared_bp"))
  }

  /** Cross-document duplicate-SPAN removal — the rewrite half of the
    * exact-substring dedup story ([[repeatedPassages]] is the detection
    * half; Lee et al. 2022 remove one copy of every duplicated span
    * instead of dropping whole documents). A token position is removed
    * when some `windowTokens`-token window covering it also occurs in a
    * DIFFERENT document and this document is not the window's canonical
    * owner (the smallest doc id containing it) — so exactly one copy of
    * every cross-doc span survives, in the smallest doc. Documents
    * shorter than one window are never rewritten.
    *
    * Plan shape: one window explode + one token explode (both ∝ corpus
    * tokens, md5/hash-keyed — skew-free), a window-key aggregate for the
    * canonical owner, and position-keyed joins back. No n², no driver
    * state; the per-doc reassembly (`collect_list` + sort) holds one
    * document's tokens at a time.
    *
    * Returns `(id, n_tokens, n_removed, cleaned)` for every input doc —
    * `cleaned` is the surviving tokens joined by single spaces
    * (whitespace-normalized by construction, like [[TextFunctions.fingerprint]]).
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          windowTokens: Int = 5): DataFrame = {
    val w = windowTokens
    // read 3× (windows, tokens, totals): eager local checkpoint, released
    // by the ContextCleaner with the result
    val base = df.select(col(idCol).as("_id"),
        coalesce(col(textCol), lit("")).as("_t"))
      .localCheckpoint(true)
    val toksOf = TextFunctions.tokens(col("_t"))
    // window starts are 0-based token positions; the short-text fallback
    // window is EXCLUDED (size >= w) — sub-window texts are whole-doc
    // duplicates, which is [[exactDedup]]'s job, not span surgery's
    val wins = base.where(size(toksOf) >= w)
      .select(col("_id"),
        posexplode(TextFunctions.shingles(col("_t"), w)).as(Seq("_wpos", "_win")))
      .select(col("_id"), col("_wpos"), md5(col("_win")).as("_h"))
    val owners = wins.groupBy(col("_h"))
      .agg(min(col("_id")).as("_fd"), count_distinct(col("_id")).as("_nd"))
    val removedPos = wins.join(owners, Seq("_h"))
      .where(col("_nd") > 1 && col("_id") =!= col("_fd"))
      .select(col("_id"),
        explode(sequence(col("_wpos"), col("_wpos") + lit(w - 1))).as("_pos"))
      .distinct()
    val toksTbl = base.select(col("_id"),
      posexplode(toksOf).as(Seq("_pos", "_tok")))
    val cleaned = toksTbl.join(removedPos, Seq("_id", "_pos"), "left_anti")
      .groupBy(col("_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_pos"), col("_tok")))),
          s => s.getField("_tok")), " ").as("cleaned"))
    val removedCounts = removedPos.groupBy(col("_id"))
      .agg(count(lit(1)).as("n_removed"))
    base.select(col("_id"), size(toksOf).cast("long").as("n_tokens"))
      .join(removedCounts, Seq("_id"), "left")
      .join(cleaned, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  // --------------------------------------------- duplicate clusters (CC)

  /** Connected components over a candidate-pair edge list — turns pairwise
    * near-dup hits (LSH bands, blocked Jaccard, embedding cosine) into
    * DUPLICATE CLUSTERS so a pipeline can keep one representative per
    * cluster, not just drop one side of each pair.
    *
    * Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): O(log n) rounds
    * regardless of graph shape. Real duplicate graphs are not reliably
    * low-diameter — boilerplate families chain A~B~C~… through borderline
    * pairs — and min-label propagation needs diameter-many rounds (a
    * 10k-link chain = 10k shuffles).
    *
    * Per round, over the current edge set E (undirected, no self-loops):
    *   - large-star: for each vertex u, m = min(Γ(u) ∪ {u}); rewire every
    *     STRICTLY LARGER neighbor v > u to m.
    *   - small-star: orient edges larger→smaller, m = min(Γ(u) ∪ {u});
    *     rewire every (now all-smaller) neighbor AND u itself to m.
    * Both are one groupBy + one join on vertex id — the same
    * hash-partitioned shapes as every other operator here; no driver
    * state, lineage cut per round. Fixpoint: the edge set is a disjoint
    * union of stars centered on component minima.
    *
    * Output: (v, label) for every vertex of `pairs`, label = smallest
    * member of v's component.
    */
  def connectedComponentsAlternating(pairs: DataFrame, aCol: String,
                                     bCol: String, maxIter: Int = 50,
                                     localMaxEdges: Long = 1000000L): DataFrame = {
    // vertex set BEFORE the self-loop filter: a vertex appearing only in
    // self-pairs still owes a singleton (v, v) row
    val vertices = pairs.select(col(aCol).as("v"))
      .unionAll(pairs.select(col(bCol).as("v")))
      .distinct()
      .localCheckpoint(true)
    var edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var edgeCount = edges.count()
    // Size-gated LOCAL epilogue (the Kiveris-deployment "finish small
    // graphs in one round" rule): each distributed round costs two
    // shuffle stages of fixed scheduling latency, so once the
    // deduplicated edge set is driver-trivial (≤ localMaxEdges rows of
    // two longs — 16 MB at the 1M default, the same order as the other
    // bounded driver reads here), an exact min-label union-find replaces
    // O(log n) rounds. Output is IDENTICAL to the distributed fixpoint —
    // label = smallest member of the component — for any gate value, so
    // the gate changes latency, never results (spec-pinned both paths).
    // `localMaxEdges <= 0` disables; non-long id types always run
    // distributed.
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (localMaxEdges > 0 && longIds && edgeCount <= localMaxEdges) {
      val spark = vertices.sparkSession
      import spark.implicits._
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrDefault(root, root) != root)
          root = parent.getOrDefault(root, root)
        var cur = x // path compression
        while (cur != root) { val nxt = parent.get(cur); parent.put(cur, root); cur = nxt }
        root
      }
      val edgeVerts = new java.util.HashSet[Long]()
      edges.collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        edgeVerts.add(a); edgeVerts.add(b)
        val (ra, rb) = (find(a), find(b))
        // union by id: the smaller id stays root, so root == component min
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val labels = edgeVerts.toArray(Array.empty[java.lang.Long])
        .map(v => (v.longValue(), find(v))).toSeq
      val labelDf = labels.toDF("v", "label")
      return vertices.join(broadcast(labelDf), Seq("v"), "left")
        .select(col("v"), coalesce(col("label"), col("v")).as("label"))
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      // large-star over the symmetrized edge list
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val minLarge = sym.groupBy(col("u"))
        .agg(min(least(col("v"), col("u"))).as("m"))
      val large = sym.join(minLarge, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // small-star on large-star's output, edges oriented larger→smaller
      // (so Γ(u) here is all-smaller and min(v) = min(Γ(u) ∪ {u}))
      val oriented = large.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val minSmall = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = oriented.join(minSmall, "u")
        .select(explode(array(
          struct(col("v").as("s"), col("m").as("d")),
          struct(col("u").as("s"), col("m").as("d")))).as("e"))
        .select(col("e.s").as("u"), col("e.d").as("v"))
        .where(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      // fixpoint: the round was a no-op on the edge SET (both sides are
      // distinct, so count-equal ∧ no-new-edges ⇔ set-equal); the previous
      // round's count is carried over instead of recounted
      val smallCount = small.count()
      converged = smallCount == edgeCount && small.except(edges).isEmpty
      edges = small
      edgeCount = smallCount
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsAlternating did not converge within $maxIter " +
        "rounds — raise maxIter (expected O(log n) rounds)")
    // stars: every non-root points straight at its component min; roots
    // label themselves; vertices with no surviving edge (self-loop-only)
    // are singletons labeled by themselves
    val starLabels = edges.select(col("u").as("v"), col("v").as("label"))
      .unionAll(edges.select(col("v").as("v"), col("v").as("label")))
      .distinct()
    vertices.join(starLabels, Seq("v"), "left")
      .select(col("v"), coalesce(col("label"), col("v")).as("label"))
  }

  /** The corpus-level dedup capstone: fuzzy candidate pairs → connected
    * components → KEEP one representative per duplicate family (its
    * smallest id), drop the rest. This is the pass a training pipeline
    * actually runs — pairs and clusters are diagnostics; the deliverable
    * is the deduplicated corpus.
    *
    * `pairs` come from any candidate generator ([[minhashCandidates]],
    * [[simhashNearDups]], [[embeddingNearDups]]) so the blocking strategy
    * stays the caller's choice. The drop side scales with the number of
    * DUPLICATE documents — web-scale crawls run 30-50% near-dup, so at
    * 10⁹+ docs it can reach hundreds of millions of ids: far past any
    * broadcast limit. The join strategy is therefore size-gated, not
    * hinted unconditionally: the drop set is materialized once (it is
    * consumed by both the gate count and the join), counted, and
    * broadcast only when it actually fits (`broadcastMaxIds`, sized so
    * ~8-byte ids stay within the default 10 MB auto-broadcast budget);
    * past the gate the anti-join runs as a plain shuffle join — slower,
    * but it FINISHES, which a multi-GB broadcast does not.
    */
  def keepRepresentatives(df: DataFrame, pairs: DataFrame, idCol: String,
                          aCol: String = "id_a", bCol: String = "id_b",
                          broadcastMaxIds: Long = 1000000L): DataFrame = {
    val drops = connectedComponentsAlternating(pairs, aCol, bCol)
      .where(col("v") =!= col("label"))
      .select(col("v").as("_drop_id"))
      .localCheckpoint(true)
    val dropSide = if (drops.count() <= broadcastMaxIds) broadcast(drops) else drops
    df.join(dropSide, df(idCol) === col("_drop_id"), "left_anti")
  }
}
