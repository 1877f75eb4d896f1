package graft

import graft.functions.{DedupFunctions, SimilarityFunctions, TextFunctions}
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  test("tokens / tokenCount / shingles") {
    import spark.implicits._
    val df = Seq("The quick  brown fox", "", "one").toDF("t")
    val out = df.select(
      TextFunctions.tokenCount($"t").as("n"),
      TextFunctions.shingles($"t", 2).as("sh")).collect()
    assert(out(0).getAs[Int]("n") == 4)
    assert(out(0).getSeq[String](1).toSeq == Seq("the quick", "quick brown", "brown fox"))
    assert(out(1).getAs[Int]("n") == 0)
    // zero tokens → ZERO shingles (an '' shingle would give every blank
    // doc the same signature; found by the hostile-regeneration drill)
    assert(out(1).getSeq[String](1).isEmpty)
    assert(out(2).getSeq[String](1).toSeq == Seq("one")) // short text → whole text
  }

  test("chunks: token-bounded windows with overlap, trailing partials kept") {
    import spark.implicits._
    val text = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val df = Seq(text, "").toDF("t")
    val out = df.select(TextFunctions.chunks($"t", 4, 1).as("c")).collect()
    // stride 3: starts 0,3,6,9 → windows of ≤4 tokens each
    assert(out(0).getSeq[String](0).toSeq == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10"))
    assert(out(1).getSeq[String](0).isEmpty) // empty text → no chunks
  }

  test("deterministic sampling: reproducible, partition-independent, rate-accurate") {
    import spark.implicits._
    import graft.operators.Sampling
    val ids = spark.range(10000).toDF("id")
    val a = Sampling.deterministicSample(ids, "id", 2000, "s1")
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(ids.repartition(17), "id", 2000, "s1")
      .collect().map(_.getLong(0)).toSet
    assert(a == b)                                    // partitioning-independent
    assert(math.abs(a.size - 2000) < 200, s"rate off: ${a.size}") // ~20%
    // different salt → different (mostly disjoint-ish) sample
    val c = Sampling.deterministicSample(ids, "id", 2000, "s2")
      .collect().map(_.getLong(0)).toSet
    assert(c != a)
    // stratified: per-stratum rates honored
    val strat = ids.withColumn("g", when($"id" % 2 === 0, "even").otherwise("odd"))
    val kept = Sampling.stratifiedSample(strat, "id", "g",
        Map("even" -> 0), defaultBp = 10000, salt = "s1")
      .collect()
    assert(kept.length == 5000 && kept.forall(_.getString(1) == "odd"))
  }

  test("token-budget sample: bucketed cutoff equals the naive global prefix") {
    import spark.implicits._
    import graft.operators.Sampling
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("tok_cnt",
        size(TextFunctions.tokens(coalesce($"text", lit("")))).cast("long"))
    def naive(budget: Long): Set[Long] = {
      val prio = DedupFunctions.hash60(
        concat_ws("|", lit("t"), $"doc_id".cast("string")))
      docs.withColumn("_p", prio)
        .withColumn("_cum", sum($"tok_cnt").over(Window.orderBy($"_p", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where($"_cum" <= budget)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    }
    def bucketed(budget: Long, maxRows: Long = 1000000L): Set[Long] =
      Sampling.tokenBudgetSample(docs, "doc_id", "tok_cnt", budget, "t", maxRows)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    val total = docs.agg(sum($"tok_cnt")).head().getLong(0)
    for (budget <- Seq(0L, 37L, total / 10, total / 2, total, total * 2)) {
      val n = naive(budget)
      assert(bucketed(budget) == n, s"mismatch at budget=$budget")
      // windowMaxRows = 0 forces the boundary-bucket split to recurse all
      // the way to shift 0 (five 12-bit levels) — the deep path must pick
      // the identical greedy prefix
      assert(bucketed(budget, 0L) == n, s"recursive mismatch at budget=$budget")
      if (budget >= total) assert(n.size == docs.count())
    }
    // kept set only grows with the budget (greedy prefix property)
    assert(naive(total / 10).subsetOf(naive(total / 2)))
  }

  test("mixture sample: weighted rates, renormalization, determinism") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = (
      (0L until 1000L).map(i => (i, "web")) ++          // dominant source
      (1000L until 1500L).map(i => (i, "code")) ++
      (1500L until 1600L).map(i => (i, "wiki")) ++
      (1600L until 1700L).map(i => (i, "junk"))          // unweighted
    ).toDF("id", "source")
    // "books" is weighted but absent from the corpus: its quota must be
    // renormalized away, not silently burn budget
    val w = Map("web" -> 1L, "code" -> 2L, "wiki" -> 1L, "books" -> 100L)
    val kept = Sampling.mixtureSample(df, "id", "source", w, budgetDocs = 400L)
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!kept.contains("junk") && !kept.contains("books"))
    // W = 4 (present sources only); quotas: web 100/1000, code 200/500,
    // wiki 100/100 → rate capped at 100%
    assert(kept("wiki") == 100)
    assert(math.abs(kept("web") - 100) < 30, s"web: ${kept("web")}")
    assert(math.abs(kept("code") - 200) < 40, s"code: ${kept("code")}")
    // deterministic and partitioning-independent
    val again = Sampling.mixtureSample(df.repartition(13), "id", "source", w,
        budgetDocs = 400L).collect().map(_.getLong(0)).toSet
    val first = Sampling.mixtureSample(df, "id", "source", w,
        budgetDocs = 400L).collect().map(_.getLong(0)).toSet
    assert(again == first)
  }

  test("mixture resample: upsampled sources repeat for deterministic epochs") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = (
      (0L until 800L).map(i => (i, "web")) ++
      (800L until 900L).map(i => (i, "wiki"))    // small, heavily weighted
    ).toDF("id", "source")
    // W = 5; wiki quota = 400·4/5 = 320 of 100 docs → rate 3.2 epochs;
    // web quota = 400·1/5 = 80 of 800 → rate 0.1
    val w = Map("web" -> 1L, "wiki" -> 4L)
    val out = Sampling.mixtureResample(df, "id", "source", w, budgetDocs = 400L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byId = out.groupBy(_._1)
    // every wiki doc runs 3 or 4 epochs (3 full + hash-gated fraction),
    // with contiguous 0-based epoch indices
    val wikiCopies = byId.view.filterKeys(_ >= 800L).values
    assert(wikiCopies.nonEmpty)
    assert(wikiCopies.forall { c =>
      (c.length == 3 || c.length == 4) &&
        c.map(_._3).sorted.toSeq == (0L until c.length.toLong)
    })
    val nWiki = out.count(_._2 == "wiki")
    assert(math.abs(nWiki - 320) < 40, s"wiki rows: $nWiki")
    // web is fractionally downsampled, never repeated
    val webCopies = byId.view.filterKeys(_ < 800L).values
    assert(webCopies.forall(c => c.length == 1 && c.head._3 == 0L))
    val nWeb = out.count(_._2 == "web")
    assert(math.abs(nWeb - 80) < 30, s"web rows: $nWeb")
    // deterministic and partitioning-independent
    val again = Sampling.mixtureResample(df.repartition(7), "id", "source", w,
        budgetDocs = 400L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(again == out.toSet)
  }

  test("semantic dedup: drops are a subset of brute force with high recall") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val index = SimilarityFunctions.ivfTrain(emb, "embedding", cells = 8)
    val assigned = index.assignProbes(emb, "vec_id", "embedding", probes = 2)
    val semDrops = DedupFunctions.semanticDedupDrops(assigned, 0.3)
      .collect().map(_.getLong(0)).toSet
    // single-probe recall for comparison — multi-probe must dominate it
    val singleDrops = DedupFunctions.semanticDedupDrops(
      index.assign(emb, "vec_id", "embedding"), 0.3)
      .collect().map(_.getLong(0)).toSet
    val bruteDrops = DedupFunctions.embeddingNearDups(
        emb.withColumn("_one", lit(1)), "vec_id", "embedding", "_one", 0.3)
      .select($"id_b").distinct().collect().map(_.getLong(0)).toSet
    // precision 1: every within-cell drop is backed by an exact cosine
    assert(semDrops.subsetOf(bruteDrops))
    assert(singleDrops.subsetOf(semDrops)) // probe-2 dominates probe-1
    val recall = semDrops.size.toDouble / bruteDrops.size
    info(f"semantic dedup recall: $recall%.3f (${semDrops.size}/${bruteDrops.size}, " +
      f"single-probe ${singleDrops.size})")
    assert(recall >= 0.8, f"recall $recall%.3f below certificate floor")
    // the id-minimal vector of the whole corpus can never be dropped
    assert(!semDrops.contains(emb.agg(min($"vec_id")).head().getLong(0)))
    // one-shot semanticDedup = corpus minus the drop set
    val survivors = DedupFunctions.semanticDedup(emb, "vec_id", "embedding",
        0.3, cells = 8).select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == emb.select($"vec_id").collect()
      .map(_.getLong(0)).toSet -- semDrops)
  }

  test("shard export: disjoint cover, hash balance, within-shard order") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = spark.range(4000).toDF("id").withColumn("payload", $"id" * 3)
    val n = 8
    val base = java.nio.file.Files.createTempDirectory("shards").toString
    Sampling.exportShuffled(df, "id", base, n, salt = "t")
    val dirs = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.toSeq == (0 until n).map(i => s"shard=$i").sorted)
    val back = spark.read.parquet(base)
    // disjoint cover: every row exactly once, payload intact
    assert(back.count() == 4000)
    assert(back.select($"id").distinct().count() == 4000)
    assert(back.where($"payload" =!= $"id" * 3).count() == 0)
    // hash balance: no shard more than 2x the uniform share
    val sizes = back.groupBy($"shard").count().collect().map(_.getLong(1))
    assert(sizes.max < 2 * 4000 / n, s"skewed shards: ${sizes.mkString(",")}")
    // within-shard files are sorted by the order key (the trainer's
    // sequential read IS the shuffle) — check each shard's parquet order
    for (d <- 0 until n) {
      val rows = spark.read.parquet(s"$base/shard=$d")
        .select($"shard_order").collect().map(_.getLong(0))
      assert(rows.sameElements(rows.sorted), s"shard $d not in order")
    }
    // the manifest attests what is on storage: per-shard counts/checksums
    // recomputed from the read-back data must match it line for line
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/_manifest.json")))
    val expected = back.groupBy($"shard").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum($"id").as("ids"),
        org.apache.spark.sql.functions.sum($"shard_order" % 1000000007L).as("os"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    expected.foreach { case (s, cnt, ids, os) =>
      val line = s"""{"shard":$s,"n_docs":$cnt,"id_sum":$ids,"order_sum":$os}"""
      assert(manifest.contains(line), s"manifest missing $line\n$manifest")
    }
    // Spark ignores the underscore-prefixed manifest when reading the dir
    assert(back.columns.toSeq.sorted ==
      Seq("id", "payload", "shard", "shard_order"))
    // deterministic: same salt → same assignment
    val a1 = Sampling.assignShards(df, "id", n, "t")
      .select($"id", $"shard").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = Sampling.assignShards(df.repartition(11), "id", n, "t")
      .select($"id", $"shard").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2)
  }

  test("lm score: hand-checked smoothing math; gibberish scores above fluent text") {
    import spark.implicits._
    import graft.operators.LmScore
    val ref = Seq(
      (1L, "the cat sat"),
      (2L, "the cat ran"),
      (3L, "zq"))                       // < 2 tokens: no bigrams, vocab only
      .toDF("doc_id", "text")
    val out = LmScore.perplexityScore(ref, ref, "doc_id", "text")
      .select($"doc_id", $"n_bigrams", $"avg_neg_logp")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // reference bigrams: "the cat"×2, "cat sat", "cat ran"; contexts:
    // the→2, cat→2; V = 6 (the cat sat ran zq — wait: the,cat,sat,ran,zq = 5)
    val V = 5.0
    // doc 1: -[ln((2+1)/(2+5)) + ln((1+1)/(2+5))]/2
    val exp1 = -(math.log(3 / (2 + V)) + math.log(2 / (2 + V))) / 2
    assert(out(1L)._1 == 2L)
    assert(math.abs(out(1L)._2 - exp1) < 1e-12, s"${out(1L)._2} vs $exp1")
    assert(out(3L) == (0L, 0.0))        // no bigrams → zero score
    // unseen-bigram doc scores strictly higher than an in-distribution doc
    val probe = Seq((10L, "the cat sat"), (11L, "xx yy zz ww")).toDF("doc_id", "text")
    val scored = LmScore.perplexityScore(probe, ref, "doc_id", "text")
      .select($"doc_id", $"avg_neg_logp")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(11L) > scored(10L) + 0.5,
      s"gibberish ${scored(11L)} not above fluent ${scored(10L)}")
  }

  test("lm model round-trips through storage: loaded scores equal one-shot") {
    import spark.implicits._
    import graft.operators.LmScore
    val ref = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("lm").toString
    LmScore.train(ref, "text").save(path)
    val loaded = LmScore.load(spark, path)
    val fresh = LmScore.perplexityScore(ref, ref, "doc_id", "text")
      .select($"doc_id", $"n_bigrams", $"avg_neg_logp")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val viaDisk = LmScore.scoreWith(ref, "doc_id", "text", loaded)
      .select($"doc_id", $"n_bigrams", $"avg_neg_logp")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(viaDisk.keySet == fresh.keySet)
    assert(fresh.forall { case (id, (n, s)) =>
      viaDisk(id)._1 == n && math.abs(viaDisk(id)._2 - s) < 1e-12 })
    assert(fresh.values.exists(_._1 > 0)) // corpus actually has bigrams
  }

  test("span removal: non-owner copies rewritten, owner and short docs untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e x y z w q"),                  // owner of "a b c d e"
      (2L, "p1 p2 a b c d e k l m"),                // loses positions 2..6
      (3L, "entirely different words without any shared span here"),
      (4L, "a b c"),                                 // < window: never rewritten
      (5L, "a b c"))                                 // even though doc 4 matches
      .toDF("doc_id", "text")
    val out = DedupFunctions.removeRepeatedSpans(df, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("n_tokens")).toSeq == Seq(10L, 10L, 8L, 3L, 3L))
    assert(out.map(_.getAs[Long]("n_removed")).toSeq == Seq(0L, 5L, 0L, 0L, 0L))
    assert(out(0).getAs[String]("cleaned") == "a b c d e x y z w q")
    assert(out(1).getAs[String]("cleaned") == "p1 p2 k l m")
    assert(out(3).getAs[String]("cleaned") == "a b c")
    assert(out(4).getAs[String]("cleaned") == "a b c")

    // overlapping shared windows: doc 7 shares doc 6's entire 6-token run,
    // so BOTH stride-1 windows hit and the whole 0..5 range is removed
    val df2 = Seq(
      (6L, "q r s t u v tail1 tail2"),
      (7L, "q r s t u v other words here"))
      .toDF("doc_id", "text")
    val out2 = DedupFunctions.removeRepeatedSpans(df2, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
    assert(out2(1).getAs[Long]("n_removed") == 6L)
    assert(out2(1).getAs[String]("cleaned") == "other words here")
  }

  test("keepRepresentatives drops everything but each family's smallest doc") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val df = Seq(
      (1L, base), (2L, base.replace("today", "tonight")), (3L, base + " extra"),
      (10L, "completely different content about catalyst optimizer rules"))
      .toDF("doc_id", "text")
    val pairs = DedupFunctions.minhashCandidates(df, "doc_id", "text",
      k = 12, nBands = 4)
    val kept = DedupFunctions.keepRepresentatives(df, pairs, "doc_id")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // 1,2,3 are one family (1 survives); 10 never paired, survives untouched
    assert(kept == Set(1L, 10L))
  }

  test("word entropy: exact integer micro-nat values, zeros for empty docs") {
    import spark.implicits._
    val d = Seq((1L, "a a b"), (2L, "a a a"), (3L, ""))
      .toDF("doc_id", "text")
    val r = graft.operators.Entropy.wordEntropy(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    // n=3 c={2,1}: 3·L(3) − 2·L(2) = 3·1098612 − 2·693147 = 1909542
    assert(r(1L) === ((3L, 2L, 6667L, 1909542L)))
    assert(r(2L) === ((3L, 1L, 3333L, 0L))) // uniform repeat: H = 0
    assert(r(3L) === ((0L, 0L, 0L, 0L)))
  }

  test("winnowing: shared long passage guarantees a common fingerprint") {
    import spark.implicits._
    val passage = (1 to 15).map(i => s"shared$i").mkString(" ")
    val d = Seq(
      (1L, s"alpha beta gamma $passage delta epsilon"),
      (2L, s"one two three four five six $passage seven eight"),
      (3L, "totally different words everywhere nothing matches here at all"))
      .toDF("doc_id", "text")
    val fp = d.select($"doc_id",
        TextFunctions.winnowedFingerprints($"text", 3, 8).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // passage of 15 tokens ≥ w+n−1 = 10 ⇒ guaranteed shared fingerprint
    assert((fp(1L) & fp(2L)).nonEmpty)
    assert((fp(1L) & fp(3L)).isEmpty)
    // density: selected set is a small fraction of all grams (~2/(w+1))
    val nGrams = d.select(size(TextFunctions.shingles($"text", 3)))
      .collect().map(_.getInt(0)).sum
    assert(fp.values.map(_.size).sum < nGrams)
    // short doc: single global min
    val short = Seq((9L, "tiny doc")).toDF("doc_id", "text")
    val sfp = short.select(TextFunctions.winnowedFingerprints($"text", 3, 8))
      .head().getSeq[Long](0)
    assert(sfp.size === 1)
  }

  test("mod_p_checksum: native fold is bit-identical to the aggregate HOF on any array") {
    import spark.implicits._
    import graft.functions.expressions.ModPChecksum.mod_p_checksum
    val p = 1000000007L
    // mixed magnitudes, negatives, empty — Java % semantics must match
    val d = Seq(
      Seq(1L, 2L, 3L), Seq.empty[Long], Seq(Long.MaxValue, Long.MaxValue - 1),
      Seq(-5L, -1000000009L, 7L), Seq(0L), (1L to 200L).map(_ * 999999937L))
      .toDF("xs")
    val rows = d.select(
        mod_p_checksum($"xs", p).as("native"),
        aggregate($"xs", lit(0L), (acc, x) => (acc + x % p) % p).as("hof"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native=${r.getLong(0)} hof=${r.getLong(1)}"))
    // order independence (the set-digest contract) holds for NON-NEGATIVE
    // elements — hash60 fingerprints always are; with negatives only the
    // congruence class is order-free, not the Java-% representative
    val nn = Seq(Seq(3L, 999999937L, 0L, Long.MaxValue, 12L)).toDF("xs")
    val fwd = nn.select(mod_p_checksum($"xs", p)).head().getLong(0)
    val rev = nn.select(mod_p_checksum(reverse($"xs"), p)).head().getLong(0)
    assert(fwd == rev)
  }

  test("mod_p_element_sum / sum_len_div: native folds bit-identical to their HOFs, null elements fold to NULL") {
    import spark.implicits._
    import graft.functions.expressions.ModPElementSum.mod_p_element_sum
    import graft.functions.expressions.SumLenDiv.sum_len_div
    val p = 1000003L
    val d = Seq(
      Seq(1L, 2L, 3L), Seq.empty[Long], Seq(Long.MaxValue, Long.MaxValue - 1),
      Seq(-5L, -1000000009L, 7L), Seq(0L), (1L to 200L).map(_ * 999999937L))
      .toDF("xs")
    d.select(
        mod_p_element_sum($"xs", p).as("native"),
        aggregate(transform($"xs", x => x % p), lit(0L), (a, x) => a + x).as("hof"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"native=${r.getLong(0)} hof=${r.getLong(1)}"))
    val s = Seq(
      Seq("a", "sevenchr", "exactly8", "overeight9", ""),
      Seq.empty[String], Seq("日本語のテキストですよ"), // 11 code points
      Seq("x" * 1000))
      .toDF("ts")
    s.select(
        sum_len_div($"ts", 8).as("native"),
        aggregate($"ts", lit(0), (acc, t) => acc + floor(length(t) / 8).cast("int")).as("hof"))
      .collect().foreach(r => assert(r.getInt(0) == r.getInt(1),
        s"native=${r.getInt(0)} hof=${r.getInt(1)}"))
    // null elements: all three natives return NULL like the three-valued
    // HOF fold (ADVICE r13: getLong on a null slot silently read 0)
    import graft.functions.expressions.ModPChecksum.mod_p_checksum
    val withNulls = Seq(Seq[java.lang.Long](1L, null, 3L)).toDF("xs")
    val r = withNulls.select(mod_p_checksum($"xs", p), mod_p_element_sum($"xs", p)).head()
    assert(r.isNullAt(0) && r.isNullAt(1), s"null element must fold to NULL: $r")
    val sNulls = Seq(Seq[String]("abcdefgh", null)).toDF("ts")
    assert(sNulls.select(sum_len_div($"ts", 8)).head().isNullAt(0))
    // and a null-free but containsNull=true-typed column still matches
    val typedNullable = Seq(Seq[java.lang.Long](9L, 18L, -7L)).toDF("xs")
    val tr = typedNullable.select(
      mod_p_checksum($"xs", p).as("a"),
      aggregate($"xs", lit(0L), (acc, x) => (acc + x % p) % p).as("b")).head()
    assert(tr.getLong(0) == tr.getLong(1))
  }

  test("finite_vec / quantize8: native kernels identical to the composed HOF forms") {
    import spark.implicits._
    import graft.functions.SimilarityFunctions
    val rows = Seq(
      Seq[java.lang.Double](1.0, -2.5, 3.25),
      Seq[java.lang.Double](Double.NaN, 1.0),
      Seq[java.lang.Double](Double.PositiveInfinity),
      Seq[java.lang.Double](Double.NegativeInfinity, 0.0),
      Seq[java.lang.Double](null, 1.0),
      Seq.empty[java.lang.Double],
      null)
    val d = rows.toDF("v")
    val composedFinite = org.apache.spark.sql.functions.col("v").isNotNull &&
      !expr("exists(v, x -> x IS NULL OR isnan(x) OR abs(x) = cast('Infinity' AS DOUBLE))")
    val both = d.select(
      SimilarityFunctions.finiteVec("v").as("native"),
      coalesce(composedFinite, lit(false)).as("composed")).collect()
    both.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), s"finite_vec diverged: $r"))
    // float arrays (the parquet embedding type) and int arrays (the
    // quantized tier) run the same gate without casts
    val f = Seq(Seq(1.0f, Float.NaN), Seq(2.0f)).toDF("v")
    assert(f.select(SimilarityFunctions.finiteVec("v")).collect()
      .map(_.getBoolean(0)).toSeq == Seq(false, true))
    val iArr = Seq(Seq[java.lang.Integer](1, null), Seq[java.lang.Integer](5)).toDF("v")
    assert(iArr.select(SimilarityFunctions.finiteVec("v")).collect()
      .map(_.getBoolean(0)).toSeq == Seq(false, true))
    // quantize8 vs the composed chain — incl. NaN (Spark least/greatest
    // order NaN GREATEST, so it clamps to 127), ±Inf, nulls, boundaries
    val scale = 127.0
    val q = d.where(col("v").isNotNull).select(
      SimilarityFunctions.quantize8($"v", 1.0).as("native"),
      transform($"v".cast("array<double>"),
        x => greatest(lit(-127.0), least(lit(127.0), floor(x * scale + 0.5)))
          .cast("int")).as("composed")).collect()
    q.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"quantize8 diverged: native=${r.getSeq[Any](0)} composed=${r.getSeq[Any](1)}")
    }
  }

  test("split_lines / c4_kept_lines: native passes identical to the composed lambda forms") {
    import spark.implicits._
    val texts = Seq(
      "line one.\nline two!\nshort\nno terminal punct here at all",
      "crlf line here ok.\r\nnext line\rlone cr not a separator.",
      "  spaced.   \n\t tab kept by spark trim? yes.\n\n\n",
      "ends with quote \"\nends with dot.\nEnable JavaScript to view.",
      "one two three four five.\none two three four.\n.",
      "", "   ", "\n\r\n\n", null,
      "multibyte 日本 語 テキスト ですよ。 five words no dot\nunicode ok here really truly.")
      .toDF("t")
    val composedLines = filter(transform(split($"t", "\\r?\\n"), l => trim(l)),
      l => length(l) > 0)
    val lineRows = texts.select(
      graft.functions.TextFunctions.lines($"t").as("native"),
      composedLines.as("composed")).collect()
    lineRows.foreach { r =>
      assert((r.isNullAt(0) && r.isNullAt(1)) ||
        r.getSeq[String](0) == r.getSeq[String](1), s"lines diverged: $r")
    }
    val t = coalesce($"t", lit(""))
    val composedKept = filter(composedLines,
      l => graft.operators.HeuristicFilters.lineKept(l, 5))
    val keptRows = texts.select(
      graft.functions.expressions.LineExpressions.c4_kept_lines(t, 5).as("native"),
      coalesce(composedKept, array().cast("array<string>")).as("composed")).collect()
    keptRows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"c4 kept lines diverged: native=${r.getSeq[String](0)} composed=${r.getSeq[String](1)}")
    }
  }

  test("tokens(): array_remove form identical to the filter-lambda form") {
    import spark.implicits._
    val texts = Seq("", " ", "a b  c", "\tleading tab", "trailing  ",
      "ONE\ntwo\r\nthree", "日本 語", "  ", "x", null).toDF("t")
    val rows = texts.select(
      graft.functions.TextFunctions.tokens($"t").as("a"),
      filter(split(lower(trim($"t")), "\\s+"), x => length(x) > 0).as("b")).collect()
    rows.foreach { r =>
      assert((r.isNullAt(0) && r.isNullAt(1)) ||
        r.getSeq[String](0) == r.getSeq[String](1), s"diverged: $r")
    }
  }

  test("winnow pairs: passage overlap found, staged path identical") {
    import spark.implicits._
    val passage = (1 to 20).map(i => s"shared$i").mkString(" ")
    val d = Seq(
      (1L, s"alpha beta gamma $passage delta epsilon"),
      (2L, s"one two three four five six $passage seven eight"),
      (3L, "totally different words everywhere nothing matches here at all"))
      .toDF("doc_id", "text")
    val pairs = DedupFunctions.winnowNearDups(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
    val tmp = java.nio.file.Files.createTempDirectory("winnow").toString
    val staged = DedupFunctions.winnowNearDups(d, "doc_id", "text",
        stagingPath = Some(s"$tmp/fps"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(staged === pairs)
  }

  test("winnow pairs: hot-fingerprint cap bounds boilerplate explosion") {
    import spark.implicits._
    // 50 docs all carrying the same boilerplate footer (the web-scale
    // failure mode: one passage shared by k docs → k² candidate rows),
    // plus ONE genuine near-dup pair sharing a low-frequency passage.
    val footer = (1 to 15).map(i => s"footer$i").mkString(" ")
    val rare = (1 to 15).map(i => s"rare$i").mkString(" ")
    val boiler = (1L to 50L).map(i =>
      (i, s"unique${i}a unique${i}b unique${i}c $footer unique${i}d unique${i}e"))
    val nearDup = Seq(
      (100L, s"alpha beta gamma $rare delta"),
      (101L, s"one two three four $rare five"))
    val d = (boiler ++ nearDup).toDF("doc_id", "text")

    // uncapped: the footer fingerprints alone produce ≥ 50·49/2 pairs
    val uncapped = DedupFunctions.winnowNearDups(d, "doc_id", "text",
      minShared = 1, maxDocFreq = 0).count()
    assert(uncapped >= 50L * 49 / 2)

    // capped below the footer's document frequency: the hot fingerprints
    // are dropped as stop-fingerprints, the rare-passage pair survives
    val capped = DedupFunctions.winnowNearDups(d, "doc_id", "text",
        minShared = 1, maxDocFreq = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((100L, 101L)))
    assert(capped.size < 50) // bounded: no quadratic footer block
    assert(!capped.exists { case (a, b) => a <= 50 && b <= 50 })

    // staged path applies the cap before writing — the parquet itself is
    // free of the hot keys, so every later reader inherits the bound
    val tmp = java.nio.file.Files.createTempDirectory("winnowcap").toString
    val stagedCapped = DedupFunctions.winnowNearDups(d, "doc_id", "text",
        minShared = 1, maxDocFreq = 30, stagingPath = Some(s"$tmp/fps"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stagedCapped === capped)

    // mirrored option on the minhash band keys: 50 exact copies form one
    // degenerate copy set; capping its band buckets drops those pairs
    val copies = (1L to 50L).map(i => (i, s"same text in every copy here"))
      .toDF("doc_id", "text")
    val mhCapped = DedupFunctions.minhashCandidates(copies, "doc_id", "text",
      maxBandFreq = 30).count()
    assert(mhCapped === 0L)

    // the cap is OPT-IN: by default every pair of the copy family is
    // reported, exactly like an uncapped oracle replay would compute —
    // callers with an independent oracle must mirror any cap they pass
    val mhDefault = DedupFunctions.minhashCandidates(
      copies, "doc_id", "text").count()
    assert(mhDefault === 50L * 49 / 2)
  }

  test("redact scrubs urls/emails/ips with typed placeholders; counts match") {
    import spark.implicits._
    val df = Seq(
      "mail me at a.b@example.com or visit https://x.io/p?q=1 from 10.0.0.1",
      "clean text with no pii at all").toDF("t")
    val out = df.select(
      TextFunctions.redact($"t").as("r"),
      TextFunctions.piiCount($"t", TextFunctions.PiiPatterns(0)._1).as("urls"),
      TextFunctions.piiCount($"t", TextFunctions.PiiPatterns(1)._1).as("emails"),
      TextFunctions.piiCount($"t", TextFunctions.PiiPatterns(2)._1).as("ips"))
      .collect()
    assert(out(0).getString(0) ==
      "mail me at <EMAIL> or visit <URL> from <IP>")
    assert((out(0).getInt(1), out(0).getInt(2), out(0).getInt(3)) == ((1, 1, 1)))
    assert(out(1).getString(0) == "clean text with no pii at all")
    assert((out(1).getInt(1), out(1).getInt(2), out(1).getInt(3)) == ((0, 0, 0)))
  }

  test("langId picks marker language, und for no hits, en-first tie-break") {
    import spark.implicits._
    val df = Seq(
      "the cat and the dog is in a house",
      "der hund ist nicht mit das katze und ein",
      "xyzzy plugh") .toDF("t")
    val langs = df.select(TextFunctions.langId($"t")).collect().map(_.getString(0))
    assert(langs.toSeq == Seq("en", "de", "und"))
  }

  test("qualityScore within [0,1], higher for richer text") {
    import spark.implicits._
    val df = Seq(
      ("a" * 3, "low"),
      ("the quick brown fox jumps over the lazy dog and runs through the " * 5, "high"))
      .toDF("t", "tag")
    val scores = df.select($"tag", TextFunctions.qualityScore($"t")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores("high") > scores("low"))
  }

  test("fingerprint is whitespace/case-insensitive; rollingHash deterministic") {
    import spark.implicits._
    val df = Seq(("Hello   World", "hello world"), ("a", "b")).toDF("x", "y")
    val rows = df.select(
      (TextFunctions.fingerprint($"x") === TextFunctions.fingerprint($"y")).as("eq"),
      TextFunctions.rollingHash($"x").as("hx"),
      TextFunctions.rollingHash($"y").as("hy")).collect()
    assert(rows(0).getBoolean(0))
    assert(rows(0).getLong(1) == rows(0).getLong(2)) // normalized equal → same hash
    assert(!rows(1).getBoolean(0) && rows(1).getLong(1) != rows(1).getLong(2))
  }
}

class DedupFunctionsSpec extends SparkSpec {

  test("tokenless docs get NULL signatures and never pair with each other") {
    import spark.implicits._
    val df = Seq((1L, Option("")), (2L, Option("  \t ")), (3L, Option.empty[String]),
        (4L, Option("real text content here for hashing")))
      .toDF("doc_id", "text")
    val sigs = df.select(
      DedupFunctions.minhashSignature($"text", 12).as("sig"),
      DedupFunctions.simhash64($"text").as("sh")).collect()
    assert(sigs.take(3).forall(r => r.isNullAt(0) && r.isNullAt(1)),
      "blank docs must have NULL signatures")
    assert(!sigs(3).isNullAt(0) && !sigs(3).isNullAt(1))
    // and the pair generator emits nothing for them (a constant placeholder
    // signature would pair every blank doc with every other blank doc)
    val pairs = DedupFunctions.minhashCandidates(df, "doc_id", "text")
    assert(pairs.where($"id_a" <= 3 || $"id_b" <= 3).count() == 0)
  }

  test("hash60 is deterministic and 60-bit") {
    import spark.implicits._
    val h = Seq("hello").toDF("s").select(DedupFunctions.hash60($"s")).head().getLong(0)
    // cross-checked against DuckDB ('0x'||substr(md5('hello'),1,15))::BIGINT
    assert(h == 419982666956583591L)
    assert(h >= 0 && h < (1L << 60))
  }

  test("exactDedup groups identical normalized content") {
    import spark.implicits._
    val df = Seq((1L, "Hello  world"), (2L, "hello world"), (3L, "unique")).toDF("id", "text")
    val out = DedupFunctions.exactDedup(df, "id", "text").collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("id") == 1L) // smallest id wins
  }

  test("minhash LSH finds near-duplicate pair, skips distinct docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearDup = base.replace("today", "tonight")
    val other = "completely different content about spark catalyst optimizer internals rules"
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("id", "text")
    val cands = DedupFunctions.minhashCandidates(df, "id", "text", k = 12, nBands = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    assert(cands.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.5 })
    assert(!cands.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("minhash staging path: parquet-staged signatures yield identical pairs") {
    import spark.implicits._
    // real corpus slice so the staged table has non-trivial band buckets
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val stage = java.nio.file.Files.createTempDirectory("graft_minhash_stage")
    def pairs(staging: Option[String]) =
      DedupFunctions.minhashCandidates(docs, "doc_id", "text",
          k = 12, nBands = 4, shingleSize = 3, stagingPath = staging)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          math.round(r.getAs[Double]("jaccard") * 10000)))
        .toSet
    val inMemory = pairs(None)
    val staged = pairs(Some(stage.toString + "/bands"))
    assert(staged == inMemory)
    assert(inMemory.nonEmpty) // the sf0.001 corpus has planted near-dups
    // the staged signature table is reusable input for later passes
    val bands = spark.read.parquet(stage.toString + "/bands")
    assert(bands.columns.toSet == Set("_id", "_toks", "_band"))
  }

  test("simhash and ngram-jaccard staging paths: staged tables yield identical pairs") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val stage = java.nio.file.Files.createTempDirectory("graft_dedup_stage")
    def simPairs(staging: Option[String]) =
      DedupFunctions.simhashNearDups(docs, "doc_id", "text",
          maxHamming = 3, stagingPath = staging)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Long]("hamming")))
        .toSet
    val simMem = simPairs(None)
    assert(simPairs(Some(stage.toString + "/simhash")) == simMem)
    assert(simMem.nonEmpty)
    def njPairs(staging: Option[String]) =
      DedupFunctions.ngramJaccardPairs(
          // first-char block: planted near-dups share a prefix, so they
          // land in one block regardless of corpus metadata
          docs.withColumn("blk1c", substring($"text", 1, 1)),
          "doc_id", "text", "blk1c", n = 3, threshold = 0.2,
          stagingPath = staging)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          math.round(r.getAs[Double]("jaccard") * 10000)))
        .toSet
    val njMem = njPairs(None)
    assert(njPairs(Some(stage.toString + "/ngram")) == njMem)
    assert(njMem.nonEmpty)
    // both staged tables are reusable input for later passes
    assert(spark.read.parquet(stage.toString + "/simhash").columns.toSet ==
      Set("_id", "_sig"))
    assert(spark.read.parquet(stage.toString + "/ngram").columns.toSet ==
      Set("_blk", "_id", "_sh"))
  }

  test("simhash: near-dups close in hamming, distinct docs far") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val df = Seq(
      (1L, base), (2L, base + " today"),
      (3L, "unrelated words entirely about database query optimization internals")).toDF("id", "text")
    val sh = df.select($"id", DedupFunctions.simhash64($"text").as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
    assert(ham(sh(1L), sh(2L)) <= 10)
  }

  test("simhash near-dups: band blocking finds all pairs within the radius") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val df = Seq(
      (1L, base), (2L, base + " today"),
      (3L, "unrelated words entirely about database query optimization internals"))
      .toDF("id", "text")
    val pairs = DedupFunctions.simhashNearDups(df, "id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exact recall inside the radius: verify against the brute-force answer
    val sigs = df.select($"id", DedupFunctions.simhash64($"text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = for {
      a <- sigs.keys.toSeq; b <- sigs.keys.toSeq if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h.toLong)
    assert(pairs.sorted.toSeq == brute.sorted)
    assert(pairs.forall(_._3 <= 3))
  }

  test("ngram contamination flags docs sharing an exact n-gram with probes") {
    import spark.implicits._
    val probes = Seq((1L, "the secret benchmark answer is forty two")).toDF("id", "text")
    val corpus = Seq(
      (10L, "we think the secret benchmark answer is something else"), // shares 3-grams
      (11L, "completely unrelated prose about catalyst optimizer rules"))
      .toDF("id", "text")
    val hits = DedupFunctions.ngramContamination(corpus, probes, "id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(10L) && hits(10L) >= 3) // "the secret benchmark", ...
    assert(!hits.contains(11L))
  }

  test("repeated passages: cross-doc windows found, per-doc coverage in bp") {
    import spark.implicits._
    val df = Seq(
      // docs 1 and 2 share exactly one 5-token window
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "intro text the quick brown fox jumps closing words here"),
      (3L, "completely different content with no common passages at all"),
      // blank docs: two of them, so the old whole-text-fallback bug would
      // report them as sharing a repeated "" passage with shared_bp=10000
      (4L, null.asInstanceOf[String]),
      (5L, "   "))
      .toDF("doc_id", "text")

    val rep = DedupFunctions.repeatedPassages(df, "doc_id", "text", 5).collect()
    assert(rep.length == 1) // docs 4/5 share NOTHING despite both being blank
    assert(rep(0).getAs[Long]("n_docs") == 2L)
    assert(rep(0).getAs[Long]("n_occurrences") == 2L)
    assert(rep(0).getAs[Long]("first_doc") == 1L)

    val cov = DedupFunctions.passageDupCoverage(df, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
    // doc 1: 9 tokens -> 5 windows, 1 shared -> 2000 bp
    assert(cov(0).getAs[Long]("n_windows") == 5L)
    assert(cov(0).getAs[Long]("shared_bp") == 2000L)
    // doc 2: 10 tokens -> 6 windows, 1 shared -> floor(1666.7 + .5) = 1667
    assert(cov(1).getAs[Long]("n_windows") == 6L)
    assert(cov(1).getAs[Long]("shared_bp") == 1667L)
    // doc 3: nothing shared
    assert(cov(2).getAs[Long]("shared_bp") == 0L)
    // docs 4/5 (null / whitespace-only text): rows present, zero windows,
    // zero shared — NOT 10000 bp of mutual "duplication"
    assert(cov.length == 5)
    Seq(3, 4).foreach { i =>
      assert(cov(i).getAs[Long]("n_windows") == 0L)
      assert(cov(i).getAs[Long]("shared_bp") == 0L)
    }
  }

  test("alternating-star components: families, self-loop singleton, high diameter") {
    import spark.implicits._
    // chain 1-2-3 plus disjoint pair 10-11: labels collapse to each
    // family's smallest member; a self-loop-only vertex (42) must come
    // back as a singleton cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (42L, 42L)).toDF("id_a", "id_b")
    val labels = DedupFunctions
      .connectedComponentsAlternating(pairs, "id_a", "id_b", localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      42L -> 42L))

    // a 64-link chain has diameter 64: min-label propagation would need
    // ~64 rounds; alternating star must collapse it within its O(log n)
    // bound — the default 50 rounds — and label every vertex with the
    // chain head. Reversed ids exercise the orientation logic (min is at
    // the END of the input order).
    val chain = (1L until 65L).map(i => (65L - i, 65L - i + 1)).toDF("id_a", "id_b")
    val chainLabels = DedupFunctions
      .connectedComponentsAlternating(chain, "id_a", "id_b", localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainLabels.size == 65)
    assert(chainLabels.values.forall(_ == 1L))
  }

  test("CC local epilogue: small edge sets finish locally, identical output") {
    import spark.implicits._
    // The local union-find is the exact reference the distributed
    // fixpoint is held to. Random graphs (two densities) + a 64-link chain
    // + a 4-clique + a 100-vertex cycle + singleton self-loop + isolated
    // pair — every structural case the distributed fixpoint handles
    val rnd = new scala.util.Random(11)
    val rnd7 = new scala.util.Random(7)
    val pairs = (Seq.fill(80)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)) ++
      Seq.fill(60)((rnd7.nextInt(30).toLong + 1000L, rnd7.nextInt(30).toLong + 1000L)) ++
      (100L until 164L).map(i => (i, i + 1)) ++ // 64-link chain
      Seq((201L, 202L), (201L, 203L), (201L, 204L), (202L, 203L), (202L, 204L),
        (203L, 204L)) ++ // 4-clique
      ((301L until 400L).map(i => (i, i + 1)) :+ ((400L, 301L))) ++ // cycle
      Seq((500L, 500L), (600L, 601L)))
      .toDF("id_a", "id_b")
    val local = DedupFunctions
      .connectedComponentsAlternating(pairs, "id_a", "id_b") // default gate: local
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distributed = DedupFunctions
      .connectedComponentsAlternating(pairs, "id_a", "id_b", localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == distributed)
    assert((201L to 204L).forall(local(_) == 201L))
    assert((301L to 400L).forall(local(_) == 301L))
    // the gate is on the DEDUPLICATED edge count: a gate below it runs
    // distributed and still agrees (gate changes latency, never results)
    val tiny = DedupFunctions
      .connectedComponentsAlternating(pairs, "id_a", "id_b", localMaxEdges = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tiny == local)
    // non-long ids always take the distributed path and stay correct
    val strPairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val strLabels = DedupFunctions
      .connectedComponentsAlternating(strPairs, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(strLabels == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("doc pipeline: funnel stages agree with clean() output") {
    import spark.implicits._
    import graft.operators.DocPipeline
    val docs = sf("documents")
    val cfg = DocPipeline.Config()
    val kept = DocPipeline.clean(docs, "doc_id", "text", cfg)
    val funnel = DocPipeline.funnel(docs, "doc_id", "text", cfg).head()
    val nIn = funnel.getAs[Long]("n_in")
    val nLang = funnel.getAs[Long]("n_lang")
    val nQuality = funnel.getAs[Long]("n_quality")
    val nKept = funnel.getAs[Long]("n_kept")
    assert(nIn == docs.count())
    assert(nIn >= nLang && nLang >= nQuality && nQuality >= nKept)
    assert(kept.count() == nKept)
    // every kept doc passes both gates and fingerprints are unique
    assert(kept.filter($"lang_pred" =!= cfg.lang ||
      $"quality_bp" < cfg.minQualityBp).isEmpty)
    assert(kept.select($"fingerprint").distinct().count() == nKept)
  }

  test("ngram jaccard pairs within blocks") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g", "blk1"), (2L, "a b c d e f h", "blk1"),
      (3L, "a b c d e f g", "blk2")).toDF("id", "text", "blk")
    val pairs = DedupFunctions.ngramJaccardPairs(df, "id", "text", "blk", n = 2)
      .collect()
    // only the in-block pair compares; cross-block identical text doesn't
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L && pairs.head.getAs[Long]("id_b") == 2L)
    assert(pairs.head.getAs[Double]("jaccard") > 0.5)
  }
}

class SimilaritySpec extends SparkSpec {

  test("cosine/dot/norm basics") {
    import spark.implicits._
    val df = Seq((Array(1.0, 0.0), Array(0.0, 1.0)), (Array(1.0, 1.0), Array(1.0, 1.0)))
      .toDF("a", "b")
    val cos = df.select(round(SimilarityFunctions.cosine($"a", $"b"), 6)).collect().map(_.getDouble(0))
    assert(cos(0) == 0.0 && cos(1) == 1.0)
  }

  test("bruteForceTopK on real embeddings: k rows per query, ranked") {
    val emb = sf("embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val out = SimilarityFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val rows = out.collect()
    assert(rows.length == 15)
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sims = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("cosine_bp"))
      assert(sims.sliding(2).forall { case Array(x, y) => x >= y; case _ => true })
    }
  }

  test("ivfTopK recall beats single-shot LSH at the same candidate budget") {
    val emb = sf("embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = SimilarityFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = SimilarityFunctions.ivfTopK(emb, queries, "vec_id", "embedding", 3,
        cells = 8, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // 4 of 8 cells probed, but cells follow the data distribution — recall
    // should clearly beat the 50% coverage ratio
    assert(recall > 0.6, s"recall $recall too low")
  }

  test("ivf cells are magnitude-invariant (spherical): mixed-norm corpus keeps recall") {
    import spark.implicits._
    // angular families whose members differ ONLY in magnitude (1e-3..1e3):
    // Euclidean k-means over the raw vectors would cell these by norm and
    // strand every query's cosine neighbors (the XL-fuzz-found all-or-
    // nothing recall loss); spherical cells keep family members together
    val dim = 16
    val rnd = new scala.util.Random(7)
    val dirs = Array.fill(8)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val rows = (0 until 400).map { i =>
      val d = dirs(i % 8)
      val mag = math.pow(10.0, (i % 7) - 3) // 1e-3 .. 1e3
      val jit = d.map(x => (x + rnd.nextGaussian() * 0.01) * mag)
      (i.toLong, jit.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = rows.filter($"vec_id" < 16)
    val exact = SimilarityFunctions.bruteForceTopK(rows, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = SimilarityFunctions.ivfTopK(rows, queries, "vec_id", "embedding", 5,
        cells = 8, nProbe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall > 0.9, s"mixed-magnitude recall $recall — cells split by norm?")
  }

  test("ivf native cell ranking is bit-identical to the composed form") {
    import spark.implicits._
    // the native IvfKernel replaced the interpreted higher-order ranking
    // in the assignment hot path — same normalization, same left-to-right
    // distance sums, same smallest-cell tie rule; pin on the real corpus
    // plus adversarial edges (zero vector, duplicate points → exact ties)
    val emb = sf("embeddings")
    val edges = Seq(
      (100001L, Seq.fill(64)(0.0f)),             // zero norm: stays raw
      (100002L, Seq.fill(64)(1.0f)),             // duplicate pair: every
      (100003L, Seq.fill(64)(1.0f))              //   centroid d2 ties
    ).toDF("vec_id", "embedding")
    val corpus = emb.select($"vec_id", $"embedding").unionByName(edges)
    val index = SimilarityFunctions.ivfTrain(corpus, "embedding", cells = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("_cell"))).toSeq.sorted
    val native = rows(index.assignProbes(corpus, "vec_id", "embedding", 3))
    val composed = rows(index.assignProbesComposed(corpus, "vec_id", "embedding", 3))
    assert(native == composed)
    // probe-1 of the ranking IS the assignment cell
    val a1 = rows(index.assign(corpus, "vec_id", "embedding"))
    val p1 = rows(index.assignProbes(corpus, "vec_id", "embedding", 1))
    assert(a1 == p1)
  }

  test("ivf train-once/search-many equals the one-shot path, index reusable") {
    val emb = sf("embeddings")
    // the scale shape: train once, assign once (→ storage), search many
    val index = SimilarityFunctions.ivfTrain(emb, "embedding", cells = 8)
    val assigned = index.assign(emb, "vec_id", "embedding")
      .localCheckpoint(true) // stands in for the persisted inverted file
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet

    val q1 = emb.filter(col("vec_id") < 20)
    val split = SimilarityFunctions.ivfSearch(assigned, q1, index,
      "vec_id", "embedding", 3, nProbe = 4)
    val oneShot = SimilarityFunctions.ivfTopK(emb, q1, "vec_id", "embedding", 3,
      cells = 8, nProbe = 4)
    assert(ids(split) == ids(oneShot))

    // a second, disjoint query batch reuses index + assignment untouched
    val q2 = emb.filter(col("vec_id") >= 20 && col("vec_id") < 25)
    val second = SimilarityFunctions.ivfSearch(assigned, q2, index,
      "vec_id", "embedding", 3, nProbe = 4)
    assert(second.select("query_id").distinct().count() == 5)
    assert(second.groupBy("query_id").count().collect().forall(_.getLong(1) == 3))
  }

  test("pq encode/search: codes in range, ADC recall beats chance") {
    val emb = sf("embeddings")
    val queries = emb.filter(col("vec_id") < 20)

    val index = SimilarityFunctions.pqTrain(emb, "embedding", m = 8, codes = 16)
    val encoded = index.encode(emb, "vec_id", "embedding")
      .localCheckpoint(true) // stands in for the stored code table
    val codeRows = encoded.collect()
    assert(codeRows.length == emb.count())
    codeRows.foreach { r =>
      val cs = r.getSeq[Byte](1) // byte codes: the 32x storage tier
      assert(cs.length == 8 && cs.forall(c => c >= 0 && c < 16))
    }

    val exact = SimilarityFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet

    // pure ADC: ranks inside quantization error — must clearly beat chance
    // (3 random picks from 500 land < 1%) even without the exact pass
    val adc = SimilarityFunctions.pqSearch(encoded, queries, index,
        "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(adc.groupBy(_._1).size == 20) // every query answered
    val adcRecall = (exact & adc).size.toDouble / exact.size
    assert(adcRecall > 0.05, s"ADC recall $adcRecall not above chance")

    // shortlist-32 + exact re-rank is the deployment shape: high recall
    val rer = SimilarityFunctions.pqSearchRerank(encoded, emb, queries, index,
        "vec_id", "embedding", 3, shortlist = 32)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val rerRecall = (exact & rer).size.toDouble / exact.size
    assert(rerRecall > 0.5, s"PQ rerank recall $rerRecall too low")
    assert(rerRecall >= adcRecall)

    // one-shot path agrees with the split train/encode/search lifecycle
    val oneShot = SimilarityFunctions.pqTopK(emb, queries, "vec_id", "embedding", 3,
        shortlist = 32)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(oneShot == rer)
  }

  test("IVF and PQ indexes round-trip through storage: fresh load serves identical results") {
    val emb = sf("embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_idx").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet

    // IVF: train → save quantizer + parquet inverted file → LOAD BOTH in
    // a "fresh driver" → identical search results, no retrain
    val ivf = SimilarityFunctions.ivfTrain(emb, "embedding", cells = 8)
    ivf.save(s"$dir/ivf_model")
    ivf.assign(emb, "vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/ivf_inverted")
    val liveIvf = SimilarityFunctions.ivfSearch(
      spark.read.parquet(s"$dir/ivf_inverted"), queries, ivf,
      "vec_id", "embedding", 3, nProbe = 4)
    val loadedIvf = SimilarityFunctions.ivfLoad(s"$dir/ivf_model")
    val reloadedIvf = SimilarityFunctions.ivfSearch(
      spark.read.parquet(s"$dir/ivf_inverted"), queries, loadedIvf,
      "vec_id", "embedding", 3, nProbe = 4)
    assert(ids(reloadedIvf) == ids(liveIvf) && ids(liveIvf).nonEmpty)

    // PQ: save → load must be bit-identical (codes AND search output)
    val pq = SimilarityFunctions.pqTrain(emb, "embedding", m = 8, codes = 16)
    pq.save(s"$dir/pq_index.json", conf)
    pq.encode(emb, "vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/pq_codes")
    val loadedPq = SimilarityFunctions.pqLoad(s"$dir/pq_index.json", conf)
    assert(loadedPq.subDim == pq.subDim)
    assert(loadedPq.codebooks.flatten.flatten.toSeq == pq.codebooks.flatten.flatten.toSeq,
      "codebooks not bit-identical after the JSON round-trip")
    val liveCodes = pq.encode(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    val reloadCodes = loadedPq.encode(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(reloadCodes == liveCodes)
    val livePq = SimilarityFunctions.pqSearchRerank(
      spark.read.parquet(s"$dir/pq_codes"), emb, queries, pq,
      "vec_id", "embedding", 3, shortlist = 32)
    val reloadPq = SimilarityFunctions.pqSearchRerank(
      spark.read.parquet(s"$dir/pq_codes"), emb, queries, loadedPq,
      "vec_id", "embedding", 3, shortlist = 32)
    assert(ids(reloadPq) == ids(livePq) && ids(livePq).nonEmpty)
  }

  test("native PQ encode is bit-identical to the composed builtin form") {
    val emb = sf("embeddings")
    val index = SimilarityFunctions.pqTrain(emb, "embedding", m = 8, codes = 16)
    val native = index.encode(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    val composed = index.encodeComposed(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(native == composed)
  }

  test("ivfPq: probed-cell ADC + rerank recall, one-shot = split lifecycle") {
    val emb = sf("embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = SimilarityFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet

    val ivf = SimilarityFunctions.ivfTrain(emb, "embedding", cells = 8)
    val pq = SimilarityFunctions.pqTrain(emb, "embedding", m = 8, codes = 16)
    val inv = ivf.assign(emb, "vec_id", "embedding")
      .join(pq.encode(emb, "vec_id", "embedding"), Seq("neighbor_id"))
      .localCheckpoint(true) // stands in for the persisted inverted file
    val split = SimilarityFunctions.ivfPqSearch(inv, queries, ivf, pq,
        "vec_id", "embedding", 3, nProbe = 4, shortlist = 32)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // both quantizers lose a bit: bound below the PQ-only rerank floor but
    // far above chance (3 random picks from 500 land < 1%)
    val recall = (exact & split).size.toDouble / exact.size
    assert(recall > 0.35, s"IVF-PQ recall $recall too low")

    val oneShot = SimilarityFunctions.ivfPqTopK(emb, queries, "vec_id", "embedding", 3,
        cells = 8, nProbe = 4, shortlist = 32)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(oneShot == split)
  }

  test("group centroids quantize deterministically; centroid cosine flags outliers") {
    import spark.implicits._
    import graft.functions.SimilarityFunctions
    val df = Seq(
      (1L, "a", Seq(1.0, 0.0)), (2L, "a", Seq(0.0, 1.0)),
      (3L, "b", Seq(2.0, 0.0)))
      .toDF("vec_id", "label", "embedding")
    val cents = SimilarityFunctions.groupCentroids(df, "label", "embedding")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(cents("a") == Seq(500000L, 500000L)) // micro-unit mean
    assert(cents("b") == Seq(2000000L, 0L))
    val cos = SimilarityFunctions.centroidCosines(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(cos(1L) - math.sqrt(0.5)) < 1e-9) // 45° off the mean
    assert(math.abs(cos(3L) - 1.0) < 1e-12)           // singleton = its centroid
    // partition-independent: quantized centroids absorb fold-order ulps
    val repart = SimilarityFunctions.groupCentroids(df.repartition(7), "label", "embedding")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(repart == cents)
  }

  test("lshTopK recall against brute force is reasonable") {
    val emb = sf("embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = SimilarityFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = SimilarityFunctions.lshTopK(emb, queries, "vec_id", "embedding", 3, nPlanes = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // multi-probe (Hamming-1) sign-LSH, 3 planes: probes 4 of 8 buckets;
    // these synthetic embeddings are near-random (weak neighbor structure)
    // so recall well above the 50% bucket coverage indicates real signal
    assert(recall > 0.4, s"recall $recall too low")
  }

  test("int8 quantization preserves top-k ranking (high recall vs exact)") {
    val emb = sf("embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = SimilarityFunctions.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val q8 = emb.select(col("vec_id"),
      SimilarityFunctions.quantize8(col("embedding"), 1.0).as("q"))
    val quant = SimilarityFunctions.bruteForceTopK(q8, q8.filter(col("vec_id") < 20),
        "vec_id", "q", 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall > 0.8, s"quantized recall $recall too low")
    // quantized values are bounded int8
    val qRow = q8.head().getSeq[Int](1)
    assert(qRow.forall(v => v >= -127 && v <= 127))
  }

  test("native hyperplane bucket is bit-identical to the composed form") {
    val emb = sf("embeddings").limit(64)
    for (nPlanes <- Seq(3, 8)) {
      val mismatches = emb.select(
          SimilarityFunctions.lshBucket(col("embedding"), nPlanes).as("native"),
          SimilarityFunctions.lshBucketComposed(col("embedding"), nPlanes).as("composed"))
        .where(col("native") =!= col("composed")).count()
      assert(mismatches == 0, s"$mismatches bucket mismatches at nPlanes=$nPlanes")
    }
  }
}

class SketchSpec extends SparkSpec {
  test("approx sketches land within tolerance of exact answers") {
    import spark.implicits._
    val li = sf("lineitem", "/root/testdata/sf0.01")
    val r = li.agg(
      approx_count_distinct($"l_orderkey").as("approx"),
      count_distinct($"l_orderkey").as("exact"),
      percentile_approx($"l_extendedprice", lit(0.9), lit(1000)).as("p90a"),
      expr("percentile(l_extendedprice, 0.9)").as("p90e")).head()
    val (approx, exact) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05) // HLL++ rsd
    assert(math.abs(r.getDouble(2) - r.getDouble(3)) / r.getDouble(3) < 0.02)
  }
}

class MultimodalSpec extends SparkSpec {
  import graft.multimodal.{MediaKernels, Multimodal}

  test("media plumbing: features, resize, frame sampling") {
    import spark.implicits._
    val df = Seq((1L, "abcdef" * 100), (2L, "zzzz" * 64)).toDF("id", "payload")
      .select($"id", Multimodal.asMedia(encode($"payload", "utf-8"), lit("fake/raw")).as("media"))

    val feats = Multimodal.extractFeatures(df, "id", "media", dim = 16).collect()
    assert(feats.length == 2)
    assert(feats.head.getSeq[Float](1).size == 16)
    // deterministic: same bytes → same features
    val again = Multimodal.extractFeatures(df, "id", "media", dim = 16).collect()
    assert(feats.map(_.toString).toSeq == again.map(_.toString).toSeq)

    val resized = Multimodal.resize(df, "media", 8, 8).collect()
    resized.foreach { r =>
      val m = r.getStruct(1)
      assert(m.getAs[Array[Byte]]("data").length == 64)
      assert(m.getStruct(1).getAs[Int]("width") == 8)
    }

    val frames = Multimodal.sampleFrames(df, "id", "media", everyN = 2)
    assert(frames.count() > 2)
    assert(frames.columns.toSeq == Seq("id", "frame_idx", "frame"))
  }

  /** Deterministic 16×16 PNG: left half solid red, right half solid blue. */
  private def testPng(): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      im.setRGB(x, y, if (x < 8) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** Deterministic gradient PNG with optional per-pixel noise — near-dup
    * fodder for the perceptual hash: the same gradient ± small noise must
    * hash within a few bits; a different gradient must not.
    */
  private def gradientPng(seed: Int, noise: Int = 0, flip: Boolean = false): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(seed)
    for (y <- 0 until 32; x <- 0 until 32) {
      val base = if (flip) (31 - x) * 8 else x * 8
      val v = math.max(0, math.min(255, base + (if (noise > 0) rnd.nextInt(2 * noise + 1) - noise else 0)))
      im.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  test("dHash: stable under small noise, far for different images, null for junk") {
    val a = MediaKernels.dHash(gradientPng(1)).get
    val aNoisy = MediaKernels.dHash(gradientPng(2, noise = 12)).get
    val flipped = MediaKernels.dHash(gradientPng(3, flip = true)).get
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, aNoisy) <= 3, s"noisy copy drifted ${ham(a, aNoisy)} bits")
    assert(ham(a, flipped) > 16, s"flipped gradient too close: ${ham(a, flipped)}")
    assert(MediaKernels.dHash(a.toString.getBytes).isEmpty)
    // determinism: same bytes, same hash
    assert(MediaKernels.dHash(gradientPng(1)).get == a)
  }

  test("imageHashes + hammingNearDups: dup families found, junk skipped") {
    import spark.implicits._
    import graft.functions.DedupFunctions
    val rows = Seq(
      (1L, gradientPng(1)), (2L, gradientPng(7, noise = 12)), // near-dups of each other
      (3L, gradientPng(1)),                                    // exact re-encode of 1
      (4L, gradientPng(9, flip = true)),                       // different image
      (5L, "notanimage".getBytes))                             // undecodable → null
    val df = rows.toDF("id", "bytes")
      .select($"id", Multimodal.asMedia($"bytes", lit("image/png")).as("media"))
      // a NULL media struct (e.g. from a left join) must hash to null, not NPE
      .unionByName(Seq(6L).toDF("id")
        .select($"id", lit(null).cast(Multimodal.MediaType).as("media")))
    val hashes = Multimodal.imageHashes(df, "id", "media")
    assert(hashes.where($"dhash".isNull).select($"id").collect()
      .map(_.getLong(0)).toSet == Set(5L, 6L))
    val pairs = DedupFunctions.hammingNearDups(hashes, "id", "dhash", maxHamming = 3)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $pairs")
    // no cartesian/BNLJ in the pair plan
    val plan = DedupFunctions.hammingNearDups(hashes, "id", "dhash", maxHamming = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"))
  }

  test("video near-dup composes: frames -> binary-column hashes -> pairs") {
    import spark.implicits._
    import graft.functions.DedupFunctions
    // two MJPEG streams sharing one (noisy) frame; JPEG re-encode of the
    // gradient is itself perceptual noise, which is the point of dHash
    def jpeg(png: Array[Byte]): Array[Byte] = {
      val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val rgb = new java.awt.image.BufferedImage(im.getWidth, im.getHeight,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      rgb.createGraphics().drawImage(im, 0, 0, null)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(rgb, "jpg", bos)
      bos.toByteArray
    }
    val videoA = jpeg(gradientPng(1)) ++ jpeg(gradientPng(2, flip = true))
    val videoB = jpeg(gradientPng(3, noise = 8)) ++ jpeg(testPng())
    val vids = Seq((1L, videoA), (2L, videoB)).toDF("vid", "bytes")
      .select($"vid", Multimodal.asMedia($"bytes",
        lit("video/x-motion-jpeg")).as("media"))
    val frames = Multimodal.sampleFrames(vids, "vid", "media", everyN = 1)
      .select(($"vid" * 10 + $"frame_idx").as("fid"), $"frame")
    val hashes = Multimodal.imageHashes(frames, "fid", "frame") // binary col
    assert(hashes.where($"dhash".isNull).count() == 0)
    val pairs = DedupFunctions.hammingNearDups(hashes, "fid", "dhash",
        maxHamming = 7)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // frame 0 of video A ≈ frame 0 of video B; nothing else pairs
    assert(pairs == Set((10L, 20L)), s"got $pairs")
  }

  test("audioHash: stable under noise, far for a different signal, via Spark too") {
    import spark.implicits._
    import graft.functions.DedupFunctions
    // two-tone mix: a realistic non-degenerate amplitude histogram (a pure
    // sine's arcsine density is tie-heavy and flips bits on any noise)
    def tone(f1: Double, f2: Double, amp: Double, noiseSeed: Int = 0): Array[Short] = {
      val rnd = new scala.util.Random(noiseSeed)
      Array.tabulate(8000) { i =>
        val t = i / 8000.0
        val noise = if (noiseSeed == 0) 0.0 else rnd.nextGaussian() * 120.0
        ((math.sin(2 * math.Pi * f1 * t) * 0.62 +
          math.sin(2 * math.Pi * f2 * t) * 0.38) * amp + noise).toShort
      }
    }
    val a = testWav(tone(440, 313, 14000))
    val aNoisy = testWav(tone(440, 313, 14000, noiseSeed = 5))
    val b = testWav(tone(97, 2213, 26000)) // different pitches AND level
    val ha = MediaKernels.audioHash(a).get
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(ha, MediaKernels.audioHash(aNoisy).get) <= 7)
    assert(ham(ha, MediaKernels.audioHash(b).get) > 7)
    assert(MediaKernels.audioHash("notaudio".getBytes).isEmpty)
    assert(MediaKernels.audioHash(a).get == ha) // deterministic

    val df = Seq((1L, a), (2L, aNoisy), (3L, b), (4L, "junk".getBytes))
      .toDF("id", "bytes")
      .select($"id", Multimodal.asMedia($"bytes", lit("audio/wav")).as("media"))
    val hashes = Multimodal.audioHashes(df, "id", "media")
    assert(hashes.where($"ahash".isNull).select($"id").collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
    val pairs = DedupFunctions.hammingNearDups(hashes, "id", "ahash", maxHamming = 7)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("image modality decodes for real: histogram features from pixels") {
    import spark.implicits._
    val png = testPng()
    val df = Seq((1L, png)).toDF("id", "bytes")
      .select($"id", Multimodal.asMedia($"bytes", lit("image/png")).as("media"))
    val feats = Multimodal.extractFeatures(df, "id", "media", dim = 16)
      .collect().head.getSeq[Float](1)
    // dim=16 → 4 buckets × 4 channels (lum, r, g, b), normalized per pixel.
    // Half the pixels are pure red (r=255 → top r-bucket), half pure blue:
    assert(math.abs(feats(4 * 3 + 1) - 0.5f) < 1e-6, s"red top bucket: $feats")
    assert(math.abs(feats(4 * 3 + 3) - 0.5f) < 1e-6, s"blue top bucket: $feats")
    // and direct kernel call agrees with the Spark path
    val direct = MediaKernels.imageFeatures(png, 16).get
    assert(direct.toSeq == feats.toSeq)
    // undecodable bytes under an image format fall back to the stub
    assert(MediaKernels.imageFeatures("notapng".getBytes, 16).isEmpty)
  }

  /** Deterministic 16-bit little-endian PCM WAV from raw samples. */
  private def testWav(samples: Array[Short], channels: Int = 1,
                      sampleRate: Float = 8000f): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, channels,
      true, false)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length / channels)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("audio modality decodes for real: amplitude histogram from WAV samples") {
    import spark.implicits._
    // 400 frames at +8192, 400 at -8192; dim=16 buckets over [-32768,32767]
    // put them in buckets 10 and 6 exactly, 0.5 mass each
    val samples = Array.fill(400)(8192.toShort) ++ Array.fill(400)((-8192).toShort)
    val wav = testWav(samples)
    val direct = MediaKernels.audioFeatures(wav, 16).get
    assert(math.abs(direct(10) - 0.5f) < 1e-6, s"+8192 bucket: ${direct.toSeq}")
    assert(math.abs(direct(6) - 0.5f) < 1e-6, s"-8192 bucket: ${direct.toSeq}")
    assert(math.abs(direct.sum - 1f) < 1e-4)

    // Spark path agrees with the direct kernel call
    val df = Seq((1L, wav)).toDF("id", "bytes")
      .select($"id", Multimodal.asMedia($"bytes", lit("audio/wav")).as("media"))
    val feats = Multimodal.extractFeatures(df, "id", "media", dim = 16)
      .collect().head.getSeq[Float](1)
    assert(feats.toSeq == direct.toSeq)

    // stereo mean-mix: L=+8192, R=-8192 per frame → mixes to 0 → bucket 8
    val stereo = testWav(
      Array.tabulate(800)(i => if (i % 2 == 0) 8192.toShort else (-8192).toShort),
      channels = 2)
    val mixed = MediaKernels.audioFeatures(stereo, 16).get
    assert(math.abs(mixed(8) - 1f) < 1e-6, s"stereo mix buckets: ${mixed.toSeq}")

    // undecodable bytes under an audio format fall back to the stub
    assert(MediaKernels.audioFeatures("notawav".getBytes, 16).isEmpty)
    assert(MediaKernels.decodeFeatures("notawav".getBytes, "audio/wav", 16).toSeq ==
      MediaKernels.fakeDecodeFeatures("notawav".getBytes, 16).toSeq)
  }

  test("image modality resizes for real: ImageIO roundtrip preserves pixels") {
    import spark.implicits._
    val df = Seq((1L, testPng())).toDF("id", "bytes")
      .select($"id", Multimodal.asMedia($"bytes", lit("image/png")).as("media"))
    val m = Multimodal.resize(df, "media", 8, 8).collect().head.getStruct(1)
    val meta = m.getStruct(1)
    assert(meta.getAs[String]("format") == "image/png")
    assert(meta.getAs[Int]("width") == 8 && meta.getAs[Int]("height") == 8)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(m.getAs[Array[Byte]]("data")))
    assert(back.getWidth == 8 && back.getHeight == 8)
    // solid halves survive bilinear resize away from the seam
    assert((back.getRGB(1, 4) & 0xffffff) == 0xff0000)
    assert((back.getRGB(6, 4) & 0xffffff) == 0x0000ff)
  }

  /** Deterministic JPEG frame: 16×16 solid color through ImageIO. */
  private def testJpeg(rgb: Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) im.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "jpg", bos)
    bos.toByteArray
  }

  test("video modality demuxes for real: MJPEG frame split is byte-exact") {
    import spark.implicits._
    // an MJPEG stream IS concatenated JPEGs — three distinct frames
    val f0 = testJpeg(0xff0000); val f1 = testJpeg(0x00ff00); val f2 = testJpeg(0x0000ff)
    val stream = f0 ++ f1 ++ f2

    // byte-exact demux: every frame comes back as the original JPEG
    val frames = MediaKernels.mjpegFrames(stream)
    assert(frames.length == 3)
    assert(frames(0).toSeq == f0.toSeq && frames(1).toSeq == f1.toSeq
      && frames(2).toSeq == f2.toSeq)
    // and each demuxed frame decodes through the real image kernel
    frames.foreach { f =>
      val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
      assert(im.getWidth == 16 && im.getHeight == 16)
    }

    // Spark path: one row per sampled frame, every-Nth semantics
    val df = Seq((7L, stream)).toDF("id", "bytes")
      .select($"id", Multimodal.asMedia($"bytes", lit("video/x-motion-jpeg")).as("media"))
    val all = Multimodal.sampleFrames(df, "id", "media", everyN = 1)
      .orderBy($"frame_idx").collect()
    assert(all.length == 3)
    assert(all.map(_.getAs[Array[Byte]]("frame").toSeq).toSeq ==
      Seq(f0.toSeq, f1.toSeq, f2.toSeq))
    val sampled = Multimodal.sampleFrames(df, "id", "media", everyN = 2)
      .orderBy($"frame_idx").collect()
    assert(sampled.map(_.getAs[Array[Byte]]("frame").toSeq).toSeq ==
      Seq(f0.toSeq, f2.toSeq)) // frames 0 and 2

    // video features = mean of the per-frame image histograms, exactly
    val perFrame = Seq(f0, f1, f2).map(MediaKernels.imageFeatures(_, 16).get)
    val expected = (0 until 16).map(i => perFrame.map(_(i)).sum / 3)
    val vf = MediaKernels.videoFeatures(stream, 16).get
    assert(vf.toSeq == expected)
    assert(MediaKernels.decodeFeatures(stream, "video/x-motion-jpeg", 16).toSeq ==
      vf.toSeq)

    // metadata payloads are NOT entropy-escaped: a COM segment carrying a
    // full JPEG as its payload (the EXIF-thumbnail shape — raw FFD8/FFD9
    // bytes inside a header segment) must not split the frame early. The
    // demux walks segments by their declared length, never inside payloads.
    val payload = f1
    val com = Array[Byte](0xff.toByte, 0xfe.toByte,
      (((payload.length + 2) >> 8) & 0xff).toByte,
      ((payload.length + 2) & 0xff).toByte)
    val withThumb = f0.take(2) ++ com ++ payload ++ f0.drop(2)
    // still one well-formed JPEG — ImageIO decodes it
    val tim = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(withThumb))
    assert(tim != null && tim.getWidth == 16)
    val nf = MediaKernels.mjpegFrames(withThumb ++ f2)
    assert(nf.length == 2)
    assert(nf(0).toSeq == withThumb.toSeq && nf(1).toSeq == f2.toSeq)

    // non-MJPEG video bytes fall back to the deterministic stubs
    val junk = "definitely not a jpeg stream".getBytes
    assert(MediaKernels.mjpegFrames(junk).isEmpty)
    assert(MediaKernels.videoFrames(junk, "video/mp4", 2).map(_.toSeq) ==
      MediaKernels.fakeFrames(junk, 2).map(_.toSeq))
    assert(MediaKernels.decodeFeatures(junk, "video/mp4", 16).toSeq ==
      MediaKernels.fakeDecodeFeatures(junk, 16).toSeq)
  }
}
