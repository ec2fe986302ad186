package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Similarity, TextOps}

class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different words entirely unrelated text here"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup clusters identical texts") {
    val clusters = TextOps.exactDedup(docs, "doc_id", "text").collect()
    assert(clusters.length == 4) // 1&4 collapse
    val dup = clusters.find(_.getAs[Long]("cluster_size") == 2).get
    assert(dup.getAs[Long]("representative") == 1L)
  }

  test("ngram jaccard finds near-dup pair but not unrelated docs") {
    val pairs = TextOps
      .ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5,
        maxDocFrequency = None) // exact path: 5 docs, every shingle "hot"
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(pairs.contains((1L, 2L))) // one word differs -> high jaccard
    assert(pairs.contains((1L, 4L))) // identical
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash candidates include true near-dups") {
    val cand = TextOps
      .minhashCandidates(docs, "doc_id", "text",
        shingleK = 3, numHashes = 16, bandSize = 4)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(cand.contains((1L, 4L))) // identical docs always collide
    assert(!cand.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("hash-stratified sampling: deterministic, rate-shaped, per-stratum") {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    assert(TextOps.sampleByHash(df, "doc_id", "lang",
      Map("en" -> 1.0, "zh" -> 1.0), defaultRate = 0.0).count() == 400)
    assert(TextOps.sampleByHash(df, "doc_id", "lang",
      Map.empty, defaultRate = 0.0).count() == 0)
    val half = TextOps.sampleByHash(df, "doc_id", "lang",
      Map("en" -> 0.5), defaultRate = 0.0)
    val c1 = half.collect().map(_.getLong(0)).toSet
    val c2 = half.collect().map(_.getLong(0)).toSet
    assert(c1 == c2) // hash-based, no RNG: identical on re-run
    assert(c1.forall(_ % 2 == 0)) // zh fell to the 0.0 default
    assert(math.abs(c1.size - 100) < 40, s"kept ${c1.size} of 200 en")
  }

  test("split assignment: total coverage, fraction-shaped, independent of sampling") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, "en")).toDF("doc_id", "lang")
    val split = TextOps.assignSplit(df, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byName = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every row gets exactly one label; fractions roughly honored
    assert(byName.values.sum == 1000L, byName)
    assert(math.abs(byName("train") - 800) < 80, byName)
    assert(byName.contains("val") && byName.contains("test"), byName)
    // deterministic: identical on re-run
    val a = split.filter($"split" === "test").collect().map(_.getLong(0)).toSet
    val b = split.filter($"split" === "test").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // salted hash: sampleByHash survivors (low UNSALTED buckets) must NOT
    // pile into the first split — they spread across all three
    val sampled = TextOps.sampleByHash(df, "doc_id", "lang",
      Map("en" -> 0.3), defaultRate = 0.0)
    val sampledSplits = TextOps.assignSplit(sampled, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("split").distinct().collect().map(_.getString(0)).toSet
    assert(sampledSplits == Set("train", "val", "test"), sampledSplits)
    // fractions must sum to 1
    intercept[IllegalArgumentException] {
      TextOps.assignSplit(df, "doc_id", Seq("train" -> 0.5))
    }
  }

  test("fixed-per-stratum sampling: exact size, deterministic, skew-proof") {
    import spark.implicits._
    // skewed strata: 300 en, 10 zh
    val df = ((0L until 300L).map(i => (i, "en")) ++
      (1000L until 1010L).map(i => (i, "zh"))).toDF("doc_id", "lang")
    val s = TextOps.sampleFixedPerStratum(df, "doc_id", "lang", n = 25)
    val byLang = s.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") == 25L, byLang) // exactly n from the big stratum
    assert(byLang("zh") == 10L, byLang) // whole stratum when smaller than n
    // deterministic across invocations
    val a = s.collect().map(_.getLong(0)).toSet
    val b = TextOps.sampleFixedPerStratum(df, "doc_id", "lang", 25)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    // hash order, not id order: the kept en set is not just the first 25
    assert(a.filter(_ < 300L) != (0L until 25L).toSet, a.toSeq.sorted.take(30))
  }

  test("token budget packing keeps longest docs within each stratum") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "one two three four five"), // 5 tokens
      (2L, "a", "one two three"),           // 3
      (3L, "a", "one two"),                 // 2 — overflows the budget
      (4L, "b", "x y z")                    // separate stratum
    ).toDF("doc_id", "lang", "text")
    val kept = TextOps.packTokenBudget(df, "doc_id", "text", "lang", budget = 8)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cum_tokens")).toMap
    assert(kept == Map(1L -> 5L, 2L -> 8L, 4L -> 3L), kept)
  }

  test("repetition ratio flags repeated-bigram documents") {
    import spark.implicits._
    val feats = TextOps.repetitionFeatures(
      Seq(
        (1L, "spam spam spam spam spam spam"), // 5 bigrams, 1 distinct
        (2L, "all these words differ right now"), // 5 bigrams, 5 distinct
        (3L, "solo")                              // no bigrams
      ).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("rep_ratio")).toMap
    assert(math.abs(feats(1L) - 0.8) < 1e-9, feats)
    assert(feats(2L) == 0.0)
    assert(feats(3L) == 0.0)
  }

  test("pii scrub replaces emails, ips, and phone runs with stable tags") {
    import spark.implicits._
    val rows = Seq(
      (1L, "contact alice.smith+x@mail.example.org for details"),
      (2L, "server at 192.168.10.255 responded"),
      (3L, "call +1 (555) 123-4567 or 555.123.4567 now"),
      (4L, "plain text with number 42 and year 2024 stays")
    ).toDF("doc_id", "text")
      .select($"doc_id",
        expr(TextOps.scrubPiiSql("text")).as("clean"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "contact <EMAIL> for details")
    assert(rows(2L) == "server at <IP> responded")
    assert(rows(3L) == "call <PHONE> or <PHONE> now", rows(3L))
    // short digit runs survive (no over-scrubbing)
    assert(rows(4L) == "plain text with number 42 and year 2024 stays")
  }

  test("minhash estimate dedup: sig-only pairs, no second text pass") {
    val pairs = TextOps.minhashDedupPairsApprox(docs, "doc_id", "text",
      shingleK = 3, numHashes = 16, bandSize = 4, threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard_est")).toMap
    // identical docs estimate exactly 1.0
    assert(pairs.get((1L, 4L)).contains(1.0), s"got $pairs")
    // unrelated doc 3 and the sub-shingle doc 5 never pair
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical docs equal, near-dups close, unrelated far") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val sh = TextOps.simhashes(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
      .toMap
    assert(sh(1L) == sh(4L))
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)))
  }

  test("langId predicts lexicon language") {
    val df = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "le chat et la maison est une chose")
    ).toDF("doc_id", "text")
    val got = TextOps.langIdFeatures(df, "doc_id", "text")
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr"))
  }

  test("cosine topK ranks an identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding",
      dim = 4, k = 2).collect()
    assert(top.length == 2)
    assert(top.find(_.getAs[Long]("rn") == 1L).get.getAs[Long]("neighbor_id") == 1L)
    assert(top.find(_.getAs[Long]("rn") == 2L).get.getAs[Long]("neighbor_id") == 2L)
  }

  test("lsh buckets put identical vectors together and ANN finds them") {
    val vecs = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 2.0f, -1.0f, 0.5f)
      else Array(-1.0f, -2.0f, 1.0f, -0.5f)
      (i, base.map(_ * (1.0f + (i % 5) * 0.01f)))
    }.toDF("vec_id", "embedding")
    val buckets = Similarity.lshBuckets(vecs, "vec_id", "embedding", 4, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) == buckets(2L)) // same direction, same signs
    assert(buckets(0L) != buckets(1L)) // opposite direction differs
    val ann = Similarity.annTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding",
      dim = 4, numPlanes = 8, k = 3).collect()
    assert(ann.nonEmpty)
    assert(ann.forall(r => r.getAs[Long]("neighbor_id") % 2 == 0))
  }

  test("simhash dedup pairs: exact dup at hamming 0, near-dup within bound") {
    val pairs = TextOps
      .simhashDedupPairs(docs, "doc_id", "text", shingleK = 3, maxHamming = 10)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs((1L, 4L)) == 0L, "exact duplicate must collide at hamming 0")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)),
      "one-word-change near-dup should share a band within hamming 10")
    assert(pairs.values.forall(_ <= 10L))
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "unrelated doc must not pair")
  }

  test("decontaminate counts distinct overlapping shingles against the benchmark") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "totally unrelated words here now"),
      (3L, "quick brown fox runs away")
    ).toDF("doc_id", "text")
    // benchmark shingles (k=3): "the quick brown", "quick brown fox"
    val bench = Seq(Tuple1("the quick brown fox")).toDF("text")
    val got = TextOps.decontaminate(docs, "doc_id", "text", bench, "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares both benchmark shingles, doc 3 one, doc 2 none (absent)
    assert(got == Map(1L -> 2L, 3L -> 1L))
  }

  test("tokenStats: histogram-exact discrete quantiles per stratum") {
    import spark.implicits._
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = (Seq(1, 2, 3, 4, 5).map(n => ("a", words(n))) ++
      Seq(("b", words(2)), ("b", words(2)))).toDF("src", "text")
    val got = TextOps.tokenStats(docs, "text", "src")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    // strata a: counts 1..5 -> p50 = 3 (cum 3 of 5), p95 = 5, mean 3.0
    assert(a.getLong(a.fieldIndex("n_docs")) == 5L)
    assert(a.getLong(a.fieldIndex("total_tokens")) == 15L)
    assert(a.getLong(a.fieldIndex("p50_tokens")) == 3L)
    assert(a.getLong(a.fieldIndex("p95_tokens")) == 5L)
    assert(a.getDouble(a.fieldIndex("mean_tokens")) == 3.0)
    val b = got("b")
    assert(b.getLong(b.fieldIndex("p50_tokens")) == 2L &&
      b.getLong(b.fieldIndex("p95_tokens")) == 2L &&
      b.getLong(b.fieldIndex("min_tokens")) == 2L &&
      b.getLong(b.fieldIndex("max_tokens")) == 2L)
  }

  test("removeBoilerplate drops corpus-frequent segments, keeps order and empty docs") {
    import spark.implicits._
    // 5-token boilerplate prefix aligned on the w=5 segment boundary in
    // three docs; doc 4 is unrelated; doc 5 is boilerplate-only
    val bp = "subscribe to our newsletter now"
    val docs = Seq(
      (1L, s"$bp alpha beta gamma delta epsilon"),
      (2L, s"$bp zeta eta theta iota kappa"),
      (3L, s"$bp lambda mu nu xi omicron"),
      (4L, "completely unrelated body text here"),
      (5L, bp)
    ).toDF("doc_id", "text")
    val got = TextOps.removeBoilerplate(docs, "doc_id", "text",
        segTokens = 5, minDocFrequency = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (("alpha beta gamma delta epsilon", 2L, 1L)))
    assert(got(2L) == (("zeta eta theta iota kappa", 2L, 1L)))
    assert(got(4L) == (("completely unrelated body text here", 1L, 0L)))
    // boilerplate-only doc survives as an empty row, not a dropped one
    assert(got(5L) == (("", 1L, 1L)))

    // fractional threshold scales with the corpus: bp seg df=4 of 5 docs;
    // frac 0.8 -> ceil(4.0)=4 removes it, frac 0.9 -> ceil(4.5)=5 keeps it
    def removedAt(frac: Double) =
      TextOps.removeBoilerplate(docs, "doc_id", "text", segTokens = 5,
          minDocFrequency = 3, minDocFraction = Some(frac))
        .agg(org.apache.spark.sql.functions.sum("n_removed"))
        .collect()(0).getLong(0)
    assert(removedAt(0.8) == 4L)
    assert(removedAt(0.9) == 0L)
  }

  test("duplicatedWindows + removeDuplicatedSpans excise cross-doc repeated substrings") {
    import spark.implicits._
    // docs 1 and 2 share the 5-token run "one two three four five" at
    // different offsets; doc 3 is clean. Overlapping windows inside the
    // run merge via the covered-index union.
    val run = "one two three four five"
    val docs = Seq(
      (1L, s"intro words here $run tail a"),
      (2L, s"$run totally different ending here"),
      (3L, "no repeated content in this document at all")
    ).toDF("doc_id", "text")
    val dw = TextOps.duplicatedWindows(docs, "doc_id", "text", w = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactly one duplicated window per doc: the run itself
    assert(dw == Set((1L, 3L), (2L, 0L)), s"got $dw")
    val cleaned = TextOps.removeDuplicatedSpans(docs, "doc_id", "text", w = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(cleaned(1L) == (("intro words here tail a", 5L, 10L)))
    assert(cleaned(2L) == (("totally different ending here", 5L, 9L)))
    assert(cleaned(3L) == (("no repeated content in this document at all", 0L, 8L)))
  }

  test("shardAndPack: deterministic hash shards, dense pos, concat-chunk seq ids") {
    import spark.implicits._
    val nt = (1L to 20L).map(i => i -> (i % 5 + 1) * 3).toMap
    val docs = (1L to 20L)
      .map(i => (i, Seq.fill(nt(i).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextOps.shardAndPack(docs, "doc_id", "text",
        numShards = 4, seqTokens = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // recompute from the same md5-hash formula in plain Scala: shard =
    // h%4, pos = rank in (h, id) order, seq_id = floor(startOffset/10)
    val hk = docs
      .select(col("doc_id"),
        expr(TextOps.hash32Sql("cast(doc_id as string)")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 20L).groupBy(i => hk(i) % 4).flatMap {
      case (shard, ids) =>
        var cum = 0L
        ids.sortBy(i => (hk(i), i)).zipWithIndex.map { case (i, idx) =>
          val start = cum; cum += nt(i)
          (i, shard, (idx + 1).toLong, start / 10, nt(i))
        }
    }.toSet
    assert(got == expected)
  }

  test("stratumLengthGate: per-stratum discrete quantile threshold") {
    import spark.implicits._
    // stratum a: token counts 1..10 -> p20 threshold: min v with
    // cum(v)*5 >= 10 is v=2 (cum=2), so doc with 1 token drops;
    // stratum b: counts (5,5,5,7) -> threshold 5 (cum=3 at first value,
    // 15 >= 4), nothing drops
    val docs =
      (1L to 10L).map(i => (i, Seq.fill(i.toInt)("w").mkString(" "), "a")) ++
      Seq((21L, 5), (22L, 5), (23L, 5), (24L, 7))
        .map { case (id, n) => (id, Seq.fill(n)("w").mkString(" "), "b") }
    val got = TextOps.stratumLengthGate(
        docs.toDF("doc_id", "text", "lang"), "doc_id", "text", "lang", 1, 5)
      .collect().map(r => r.getLong(0)).toSet
    assert(got == ((2L to 10L) ++ Seq(21L, 22L, 23L, 24L)).toSet)
  }

  test("stratumGate: drops low-volume and short-mean strata, keeps stats") {
    import spark.implicits._
    // srcA: 3 docs, mean 6 tokens -> passes (minDocs=2, minMean=5)
    // srcB: 1 doc               -> fails minDocs
    // srcC: 2 docs, mean 3      -> fails mean floor (6+0? no: 3+3=6 < 10)
    val docs = Seq(
      (1L, "a b c d e f", "srcA"), (2L, "a b c d e f g h", "srcA"),
      (3L, "a b c d", "srcA"),
      (4L, "plenty of words in this one doc", "srcB"),
      (5L, "a b c", "srcC"), (6L, "x y z", "srcC"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.stratumGate(docs, "doc_id", "text", "source",
      minDocs = 2, minMeanTokens = 5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L))
    // survivors carry their stratum's audit stats: 3 docs, 18 tokens
    assert(got.forall(t => t._2 == "srcA" && t._4 == 3L && t._5 == 18L))
    // the integer mean floor is a strict cross-multiply: srcC has mean
    // exactly 3 < 5; a stratum at exactly the floor passes
    val atFloor = Seq((7L, "a b c d e", "srcD"), (8L, "a b c d e", "srcD"))
      .toDF("doc_id", "text", "source")
    assert(TextOps.stratumGate(atFloor, "doc_id", "text", "source",
      minDocs = 2, minMeanTokens = 5).count() == 2L)
  }

  test("crossDedupPairs: new-vs-corpus matches only, sub-shingle docs out") {
    import spark.implicits._
    val corpus = Seq(
      (2L, "the quick brown fox jumps over it"),
      (4L, "totally different words appear here now"),
      (6L, "too short")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over it"), // dup of 2
      (3L, "unrelated fresh content with novel tokens"),
      (5L, "too short")).toDF("doc_id", "text")  // sub-shingleK: excluded
    val got = TextOps.crossDedupPairs(batch, corpus, "doc_id", "text",
        shingleK = 3, numHashes = 16, bandSize = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0)))
  }

  test("bpe token count: contractions and punctuation split off") {
    val df = Seq((1L, "Don't stop, it's 42 tokens!"), (2L, "")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextOps.preTokenCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Don|'t| stop|,| it|'s| 42| tokens|!
    assert(got == Map(1L -> 9L, 2L -> 0L))
  }

  test("rolling fingerprint: canonical equivalence and known value") {
    val df = Seq(
      (1L, "Hello, World 42!"),
      (2L, "HELLO world-42"), // same canonical form
      (3L, "hello world 43")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextOps.rollingFingerprintUdf(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L), "formatting-only variants must collide")
    assert(got(1L) != got(3L))
    // independent fold of "helloworld42"
    val expect = "helloworld42".foldLeft(-1L)((h, c) =>
      if (h < 0) c.toLong else (h * 131 + c.toLong) % 1000000007L)
    assert(got(1L) == expect)
  }

  test("cosine dedup pairs gate on threshold inside shared buckets") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, -1.0f, 0.5f)),
      (1L, Array(1.01f, 2.02f, -1.01f, 0.505f)), // near-dup of 0
      (2L, Array(1.0f, 2.0f, -1.0f, 0.5f)),      // exact dup of 0
      (3L, Array(-1.0f, -2.0f, 1.0f, -0.5f))     // opposite
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineDedupPairs(
      vecs, "vec_id", "embedding", dim = 4, numPlanes = 8, threshold = 0.999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 2L)) && pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("ivf assigns to nearest centroid and searches only the probe cell") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // centroid A (id%2==0 centroids)
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.05f, 0.0f)),  // centroid B-ish
      (3L, Array(0.98f, 0.05f, 0.0f, 0.0f)), // near A
      (5L, Array(0.0f, 0.97f, 0.1f, 0.0f))   // near B
    ).toDF("vec_id", "embedding")
    val centroids = vecs.filter(col("vec_id") === 0L || col("vec_id") === 1L)
    val assign = Similarity.ivfAssign(
      vecs, "vec_id", "embedding", centroids, "vec_id", "embedding", dim = 4)
      .select("vid", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign(3L) == 0L && assign(5L) == 1L && assign(2L) == 1L)
    val top = Similarity.ivfTopK(
      vecs.filter(col("vec_id") === 1L), vecs, centroids,
      "vec_id", "embedding", "vec_id", "embedding", dim = 4, k = 2)
      .collect()
    assert(top.forall(_.getAs[Long]("query_id") == 1L))
    assert(top.forall(_.getAs[Long]("cell") == 1L))
    val ids = top.map(_.getAs[Long]("neighbor_id")).toSet
    assert(ids.subsetOf(Set(2L, 5L)), s"candidates must come from cell B: $ids")
  }

  test("ivfAssign: zero-norm centroids never win; dim mismatches fail loudly") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    // a zero-norm centroid yields NaN cosine for everything — it must be
    // dropped, never assigned (the pre-rewrite window form let NaN win)
    val cents = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (9L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("cid", "cvec")
    val assign = Similarity.ivfAssign(
      vecs, "vec_id", "embedding", cents, "cid", "cvec", dim = 4)
      .select("vid", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign == Map(0L -> 0L, 1L -> 1L), assign.toString)
    // ALL centroids zero-norm: refuse rather than assign arbitrarily
    intercept[IllegalArgumentException] {
      Similarity.ivfAssign(vecs, "vec_id", "embedding",
        Seq((9L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("cid", "cvec"),
        "cid", "cvec", dim = 4)
    }
    // centroid dim mismatch: driver-side require, clear message
    intercept[IllegalArgumentException] {
      Similarity.ivfAssign(vecs, "vec_id", "embedding",
        Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("cid", "cvec"),
        "cid", "cvec", dim = 4)
    }
    // vector dim mismatch: the old math.min silently truncated; now the
    // row fails with an explicit message (wrapped by Spark's UDF runner)
    val short = Seq((7L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.ivfAssign(short, "vec_id", "embedding",
        cents.filter(col("cid") < 9L), "cid", "cvec", dim = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("expected 4")), messages(ex).toString)
  }

  test("fixedPointBuckets keeps null-stratum rows as their own group") {
    val df = Seq(
      (1L, Option("en"), 10L), (2L, Option("en"), 20L),
      (3L, Option.empty[String], 5L), (4L, Option.empty[String], 50L)
    ).toDF("doc_id", "lang", "score")
    val out = TextOps.fixedPointBuckets(df, "score", "lang", 2, "tier")
    // null-lang rows must NOT be dropped by the fence join (plain
    // equi-join semantics would lose them silently)
    assert(out.count() == 4L)
    val tiers = out.collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), r.getLong(3))).toMap
    assert(tiers(3L) == (None, 0L) && tiers(4L) == (None, 1L), tiers.toString)
    assert(tiers(1L) == (Some("en"), 0L) && tiers(2L) == (Some("en"), 1L),
      tiers.toString)
  }

  test("kmeansRefine moves centroids onto cluster means") {
    // two tight clusters around e1 and e2; init centroids are OFF-CENTER
    // members of each cluster — after Lloyd rounds each centroid must be
    // its cluster's element-wise mean
    val vecs = Seq(
      (0L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (1L, Array(1.0f, -0.1f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.0f, 0.0f, 0.0f)),
      (10L, Array(0.0f, 0.0f, 1.0f, 0.1f)),
      (11L, Array(0.0f, 0.0f, 1.0f, -0.1f)),
      (12L, Array(0.0f, 0.0f, 0.9f, 0.0f))
    ).toDF("vec_id", "embedding")
    val init = vecs.filter(col("vec_id") === 0L || col("vec_id") === 10L)
    val refined = Similarity.kmeansRefine(
        vecs, init, "vec_id", "embedding", dim = 4, iters = 3)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(refined.size == 2)
    def approx(a: Array[Float], b: Array[Float]) =
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-5 }
    val meanA = Array(0.9666667f, 0.0f, 0.0f, 0.0f)
    val meanB = Array(0.0f, 0.0f, 0.9666667f, 0.0f)
    assert(refined.values.exists(approx(_, meanA)),
      s"no centroid at cluster-A mean: ${refined.values.map(_.toSeq)}")
    assert(refined.values.exists(approx(_, meanB)),
      s"no centroid at cluster-B mean: ${refined.values.map(_.toSeq)}")
  }

  test("gramEntries matches a hand-computed integer Gram matrix") {
    // global max |x| = 2.0 -> quantized: [1,2]->[64,127], [2,0]->[127,0]
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f)),
      (1L, Array(2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val gram = Similarity.gramEntries(
        Similarity.quantizeGlobal(vecs, "embedding", "qv"), "qv", dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // G = sum of qq^T: [64,127]·[64,127]^T + [127,0]·[127,0]^T
    assert(gram((1L, 1L)) == 64L * 64 + 127L * 127)
    assert(gram((1L, 2L)) == 64L * 127)
    assert(gram((2L, 1L)) == 64L * 127)
    assert(gram((2L, 2L)) == 127L * 127)
  }

  test("pcaFitProject finds the dominant variance direction") {
    // points spread along axis 0 (variance ~ spread^2), tiny noise on
    // axis 1, constant axes 2-3 — PC1 must align with axis 0, and the
    // 1-D projection must preserve the rank order along that axis
    val pts = Seq(
      (0L, Array(-9.0f, 0.1f, 5.0f, 0.0f)),
      (1L, Array(-3.0f, -0.1f, 5.0f, 0.0f)),
      (2L, Array(3.0f, 0.1f, 5.0f, 0.0f)),
      (3L, Array(9.0f, -0.1f, 5.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.pcaFitProject(pts, "embedding", "pc", dim = 4, k = 1)
      .select("vec_id", "pc").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).head).toMap
    assert(out.size == 4)
    // alignment with axis 0 => projections ordered like (or exactly
    // opposite to) the axis-0 coordinates, and spread >> the 0.1 noise
    val sorted = Seq(0L, 1L, 2L, 3L).map(out)
    val mono = sorted.sliding(2).forall(p => p(0) < p(1)) ||
      sorted.sliding(2).forall(p => p(0) > p(1))
    assert(mono, s"PC1 projection not monotone along axis 0: $sorted")
    assert(math.abs(sorted.head - sorted.last) > 100,
      s"PC1 spread too small (axis-0 not dominant): $sorted")
  }

  test("product quantization: encode picks subspace-nearest codes, ADC ranks the true neighbor first") {
    // dim=4, m=2 subspaces of 2 dims. Two clusters per subspace -> 2x2
    // codebook. Vector 3 shares vector 0's cells; ADC must rank 0 as 3's
    // top neighbor over the far vectors 1/2.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.9f, 0.9f, 0.0f)),
      (3L, Array(0.9f, 0.0f, 0.0f, 0.9f))
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(vecs, "vec_id", "embedding",
      dim = 4, m = 2, ksub = 2, iters = 3)
    val cbRows = cb.collect()
    assert(cbRows.map(_.getInt(0)).toSet == Set(0, 1), "both subspaces trained")
    assert(cbRows.length == 4, s"2 codes x 2 subs expected: ${cbRows.length}")
    val enc = Similarity.pqEncode(vecs, "vec_id", "embedding", cb,
      dim = 4, m = 2)
    val codes = enc.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(codes(0L) == codes(3L), "co-clustered vectors share codes")
    assert(codes(1L) == codes(2L), "co-clustered vectors share codes")
    assert(codes(0L) != codes(1L), "distinct clusters get distinct codes")
    val top = Similarity.pqTopK(
        vecs.filter(col("vec_id") === 3L), enc, cb,
        "vec_id", "embedding", dim = 4, m = 2, k = 1)
      .select("query_id", "neighbor_id").collect()
    assert(top.length == 1 && top(0).getLong(1) == 0L,
      s"ADC should rank vec 0 first for query 3: ${top.toSeq}")
  }

  test("pqTopKRerank: exact pass reorders an ADC-scrambled shortlist") {
    // 6 vectors in one PQ cell-structure: 0/3/4/5 cluster, 1/2 cluster.
    // With ksub=2 every cluster member shares codes, so ADC CANNOT rank
    // within the cluster (all tied) — the exact rerank must order query
    // 3's neighbors by true cosine: 4 (0.999...) before 0 before 5.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f, 0.9f)),
      (4L, Array(0.9f, 0.1f, 0.0f, 0.91f)),
      (5L, Array(1.0f, 0.3f, 0.0f, 0.7f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.9f, 0.9f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(vecs, "vec_id", "embedding",
      dim = 4, m = 2, ksub = 2, iters = 3)
    val enc = Similarity.pqEncode(vecs, "vec_id", "embedding", cb,
      dim = 4, m = 2)
    val got = Similarity.pqTopKRerank(
        vecs.filter(col("vec_id") === 3L), enc, cb, vecs,
        "vec_id", "embedding", dim = 4, m = 2, k = 2, shortlist = 5)
      .orderBy(col("rn")).collect()
      .map(r => r.getAs[Long]("neighbor_id"))
    assert(got.head == 4L, s"exact rerank must put 4 first: ${got.toSeq}")
    assert(got.toSet.subsetOf(Set(0L, 4L, 5L)),
      s"rerank must stay within the cluster shortlist: ${got.toSeq}")
  }

  test("ivfPqTopK scores only in-cell candidates from codes and finds the co-cluster neighbor") {
    // two well-separated clusters = two IVF cells; PQ codebook per
    // subspace. Query 3 must retrieve its co-cluster member 0 — and must
    // NOT see cluster-B rows at all (cell filter), even at k=10
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (3L, Array(0.9f, 0.0f, 0.0f, 0.9f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.9f, 0.9f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = vecs.filter(col("vec_id") === 0L || col("vec_id") === 1L)
    val cb = Similarity.pqTrain(vecs, "vec_id", "embedding",
      dim = 4, m = 2, ksub = 2, iters = 3)
    val got = Similarity.ivfPqTopK(
        vecs.filter(col("vec_id") === 3L), vecs, cents, cb,
        "vec_id", "embedding", "vec_id", "embedding",
        dim = 4, m = 2, k = 10, nprobe = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((3L, 0L)),
      s"expected only the co-cluster neighbor 0 (cell-filtered): ${got.toSeq}")
  }

  test("semanticDedupPairs finds in-cell near-dups and never crosses cells") {
    // cluster A around e1, cluster B around e3; 0/3 near-identical in A,
    // 1/2 near-identical in B. A-B cross pairs (cos 0) must not appear
    // even at threshold 0 — the cell partition, not the threshold,
    // excludes them
    val vecs = Seq(
      (0L, Array(1.0f, 0.02f, 0.0f, 0.0f)),
      (3L, Array(1.0f, -0.02f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 1.0f, 0.02f)),
      (2L, Array(0.0f, 0.0f, 1.0f, -0.02f))
    ).toDF("vec_id", "embedding")
    val cents = vecs.filter(col("vec_id") === 0L || col("vec_id") === 1L)
    val pairs = Similarity.semanticDedupPairs(
        vecs, "vec_id", "embedding", cents, "vec_id", "embedding",
        dim = 4, threshold = 0.0)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 3L), (1L, 2L)), s"got $pairs")
  }

  test("ivf multi-probe recovers the true neighbor across a cell boundary") {
    // q sits in cell A (cos .8 vs .6) but its TRUE nearest neighbor n sits
    // in cell B — nprobe=1 returns only the cell-A filler; nprobe=2 must
    // find n at rank 1
    val vecs = Seq(
      (0L, Array(0.8f, 0.6f, 0.0f, 0.0f)),   // q  -> cell 100
      (1L, Array(0.6f, 0.8f, 0.0f, 0.0f)),   // n  -> cell 200, cos(q,n)=.96
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // f  -> cell 100, cos(q,f)≈.87
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // centroid A
      (200L, Array(0.0f, 1.0f, 0.0f, 0.0f))  // centroid B
    ).toDF("vec_id", "embedding")
    val centroids = vecs.filter(col("vec_id") >= 100L)
    val queries = vecs.filter(col("vec_id") === 0L)
    def firstNeighbor(nprobe: Int): Long =
      Similarity.ivfTopKProbed(queries, vecs.filter(col("vec_id") < 100L),
        centroids, "vec_id", "embedding", "vec_id", "embedding",
        dim = 4, k = 1, nprobe = nprobe)
        .collect().head.getAs[Long]("neighbor_id")
    assert(firstNeighbor(1) == 2L)  // single-cell probe misses n
    assert(firstNeighbor(2) == 1L)  // second probe cell recovers it
  }

  test("int8 quantization: max-abs scale, half-up rounding, zero guard") {
    val vecs = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = vecs
      .select(col("vec_id"), Similarity.quantizeUdf(col("embedding")).as("q"))
      .select(col("vec_id"), col("q._1").as("scale"), col("q._2").as("qvec"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2)))
      .toMap
    assert(got(1L)._1 == 2.0)
    // 1/2*127=63.5 -> floor(64.0)=64 (half-up); -2 -> -127; .5/2*127=31.75 -> 32
    assert(got(1L)._2 == "64,-127,32,0")
    assert(got(2L) == ((0.0, "0,0,0,0")))
  }

  test("multimodal decode plumbing: stub decoder metadata + frame sampling") {
    val media = docs.select(col("doc_id"), col("text").cast("binary").as("content"))
    val decoded = Multimodal.decodeMeta(
      Multimodal.balanceBySize(media, "doc_id", "content", 4),
      "doc_id", "content", new Multimodal.StubDecoder)
    val rows = decoded.collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.width == (r.nBytes % 640).toInt)
      assert(r.nFrames >= 1)
    }
    val frames = Multimodal.sampleFrames(decoded, every = 2).collect()
    val expected = rows.map(r => (r.nFrames + 1) / 2).sum
    assert(frames.length == expected)
  }

  test("binary-column byte length counts UTF-8 bytes, not characters (q30)") {
    // q30's oracle measures strlen (bytes); the Spark side casts to binary
    // and takes length — on non-ASCII text these agree only if BOTH count
    // bytes. "héllo wörld 日本語" = 13 chars beyond ASCII coverage:
    // é/ö are 2 UTF-8 bytes each, each CJK char is 3.
    import spark.implicits._
    val doc = Seq((1L, "héllo wörld 日本語")).toDF("doc_id", "text")
    val row = doc
      .select(length(col("text").cast("binary")).cast("long").as("n_bytes"),
        length(col("text")).cast("long").as("n_chars"))
      .head()
    val utf8Bytes = "héllo wörld 日本語".getBytes("UTF-8").length.toLong
    assert(row.getLong(0) == utf8Bytes)   // 14 ASCII-ish + 2*1 + 3*3 extra
    assert(row.getLong(1) < row.getLong(0), "chars must undercount bytes")
  }

  test("media near-dup pairs: re-encoded payload found, distinct payload not") {
    import spark.implicits._
    // a: deterministic pseudo-noise; b: a with every 10th byte dropped
    // (a "re-encode" — byte histogram barely moves); c: constant filler
    val a = Array.tabulate(1000)(i => ((i * 31 + 7) % 251).toByte)
    val b = a.zipWithIndex.collect { case (x, i) if i % 10 != 0 => x }
    val c = Array.fill(1000)(42.toByte)
    val media = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "content")
    val pairs = Multimodal.mediaNearDupPairs(media, "doc_id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  test("multimodal feature extraction yields normalized fixed-width vectors") {
    val media = docs.select(col("doc_id"), col("text").cast("binary").as("content"))
    val feats = Multimodal.extractFeatures(media, "doc_id", "content", dim = 16)
      .collect()
    assert(feats.length == 5)
    feats.foreach { f =>
      assert(f.features.length == 16)
      assert(math.abs(f.features.sum - 1.0f) < 1e-3,
        "histogram must be normalized")
    }
    // deterministic: same bytes -> same features (docs 1 and 4 are dups)
    val byId = feats.map(f => f.id -> f.features.toSeq).toMap
    assert(byId(1L) == byId(4L))
  }

  test("multimodal resize bounds output size and keeps determinism") {
    val media = docs.select(col("doc_id"), col("text").cast("binary").as("content"))
    val resized = Multimodal.resize(media, "doc_id", "content",
      targetWidth = 4, targetHeight = 4, new Multimodal.StubDecoder)
      .collect()
    assert(resized.length == 5)
    resized.foreach { r =>
      assert(r.content.length <= 16, s"id ${r.id}: ${r.content.length}")
      assert(r.width <= 4 && r.height <= 4)
    }
    val byId = resized.map(r => r.id -> r.content.toSeq).toMap
    assert(byId(1L) == byId(4L))
  }
}

class FrontierStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("versioned merge-persist-read cycle preserves merge semantics") {
    import spark.implicits._
    import graft.schema.CrawlStateUrl
    val root = java.nio.file.Files.createTempDirectory("graft-frontier").toString
    val v0 = Seq(
      CrawlStateUrl("http://a.com/x", "a.com", "UNFETCHED", 100L, 1.0f, 0L),
      CrawlStateUrl("http://b.com/y", "b.com", "UNFETCHED", 100L, 2.0f, 0L)
    ).toDF()
    graft.crawl.FrontierStore.mergeInto(spark, root, v0, buckets = 4)
    assert(graft.crawl.FrontierStore.latestVersion(spark, root).contains(0))
    // second sighting of a.com/x sums score; b.com/y gets fetched
    val updates = Seq(
      CrawlStateUrl("http://a.com/x", "a.com", "UNFETCHED", 200L, 0.5f, 0L),
      CrawlStateUrl("http://b.com/y", "b.com", "FETCHED", 300L, 2.0f, 9999L)
    ).toDF()
    val merged = graft.crawl.FrontierStore.mergeInto(spark, root, updates, buckets = 4)
    assert(graft.crawl.FrontierStore.latestVersion(spark, root).contains(1))
    val byUrl = merged.collect()
      .map(r => r.getAs[String]("url") ->
        (r.getAs[String]("status"), r.getAs[Float]("score"))).toMap
    assert(byUrl("http://a.com/x") == (("UNFETCHED", 1.5f)))
    assert(byUrl("http://b.com/y") == (("FETCHED", 2.0f)))
    // bucket-pruned domain slice sees only its own pld
    val slice = graft.crawl.FrontierStore
      .domainSlice(spark, root, "a.com").get.collect()
    assert(slice.length == 1 && slice.head.getAs[String]("url") == "http://a.com/x")
  }

  /** Generation dirs under `root` mapped to their `bucket=` children. */
  private def genBuckets(root: String): Map[String, Seq[String]] =
    new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("g"))
      .map(f => f.getName -> f.list().filter(_.startsWith("bucket="))
        .sorted.toSeq).toMap

  test("superseded generations are retired after one commit; reads stay whole") {
    import spark.implicits._
    import graft.schema.CrawlStateUrl
    val root = java.nio.file.Files.createTempDirectory("graft-frontier2").toString
    (1 to 3).foreach { i =>
      graft.crawl.FrontierStore.mergeInto(spark, root,
        Seq(CrawlStateUrl(s"http://a.com/$i", "a.com", "UNFETCHED", i.toLong, 1.0f, 0L))
          .toDF(), buckets = 2)
    }
    // all updates hit a.com's bucket: g2 owns it, g1 is the one-commit
    // reader-retention window, g0 was reclaimed by the g2 commit
    val gens = genBuckets(root)
    assert(gens.keySet == Set("g1", "g2"),
      s"retention window must keep exactly current+previous: ${gens.keySet}")
    val rows = graft.crawl.FrontierStore.read(spark, root).get.count()
    assert(rows == 3)
  }

  test("merge-on-read rewrites only the buckets the updates touch") {
    import spark.implicits._
    import graft.schema.CrawlStateUrl
    val root = java.nio.file.Files.createTempDirectory("graft-frontier3").toString
    // many domains spread over 8 buckets
    val initial = (0 until 32)
      .map(i => CrawlStateUrl(s"http://d$i.com/p", s"d$i.com", "UNFETCHED",
        1L, 1.0f, 0L)).toDF()
    graft.crawl.FrontierStore.mergeInto(spark, root, initial, buckets = 8)
    assert(genBuckets(root)("g0").size == 8)
    // one-domain update: the new generation holds exactly ONE bucket dir
    // (the merge-on-read property — k/B of a full rewrite for k touched)
    val update = Seq(CrawlStateUrl("http://d5.com/p", "d5.com", "FETCHED",
      2L, 1.0f, 9L)).toDF()
    val merged = graft.crawl.FrontierStore.mergeInto(spark, root, update,
      buckets = 8)
    val after = genBuckets(root)
    assert(after("g1").size == 1, s"expected 1 rewritten bucket: $after")
    assert(after("g0").size == 8, "untouched buckets must keep their files")
    // data is still complete and merged
    assert(merged.count() == 32)
    val d5 = merged.filter(col("url") === "http://d5.com/p")
      .select("status").head().getString(0)
    assert(d5 == "FETCHED")
    // pruned slice reads one bucket only
    val slice = graft.crawl.FrontierStore
      .domainSlice(spark, root, "d5.com").get.collect()
    assert(slice.length == 1 && slice.head.getAs[String]("status") == "FETCHED")
  }

  test("WAL: ownedRows over appended batches equals the iterated per-round fold") {
    import spark.implicits._
    import graft.schema.CrawlStateUrl
    def batch(i: Int) = Seq(
      // repeated UNFETCHED sightings (score sums), a terminal overwrite,
      // and a fresh url per batch — the merge corners that matter
      CrawlStateUrl("http://w.com/hot", "w.com", "UNFETCHED", i * 10L, 1.0f, 0L),
      CrawlStateUrl(s"http://w.com/p$i", "w.com", "UNFETCHED", i * 10L, 0.5f, 0L),
      CrawlStateUrl("http://w.com/done", "w.com",
        if (i >= 2) "FETCHED" else "UNFETCHED", i * 10L, 2.0f, i * 10L + 5))
      .toDF()
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("url", "status", "statusTime", "score", "nextFetchTime")
      .collect().map(_.toSeq).toSet
    // path A: the pre-WAL behavior — mergeInto every batch
    val rootA = java.nio.file.Files.createTempDirectory("graft-walA").toString
    (0 to 3).foreach(i =>
      graft.crawl.FrontierStore.mergeInto(spark, rootA, batch(i), buckets = 4))
    // path B: fold batch 0, append 1-3 as WAL, merge them in the owners' read
    val rootB = java.nio.file.Files.createTempDirectory("graft-walB").toString
    graft.crawl.FrontierStore.mergeInto(spark, rootB, batch(0), buckets = 4)
    (1 to 3).foreach { i =>
      val seq = graft.crawl.FrontierStore.nextWalSeq(spark, rootB)
      graft.crawl.FrontierStore.appendWal(spark, rootB, batch(i), seq)
    }
    val a = snap(graft.crawl.FrontierStore.read(spark, rootA).get)
    val b = snap(FrontierRows(spark, rootB, buckets = 4).toDF())
    assert(a == b, s"only-A: ${(a -- b).take(3)} only-B: ${(b -- a).take(3)}")
    // and compacting path B's WAL folds to the same state
    graft.crawl.FrontierStore.compactWal(spark, rootB, buckets = 4)
    assert(snap(graft.crawl.FrontierStore.read(spark, rootB).get) == a)
    // folded WAL dirs are reclaimed
    assert(!new java.io.File(s"$rootB/_wal").exists() ||
      new java.io.File(s"$rootB/_wal").list().isEmpty)
  }

  test("WAL: a crash between the fold and the WAL deletes cannot double-apply") {
    import spark.implicits._
    import graft.schema.CrawlStateUrl
    val root = java.nio.file.Files.createTempDirectory("graft-walC").toString
    graft.crawl.FrontierStore.mergeInto(spark, root,
      Seq(CrawlStateUrl("http://c.com/x", "c.com", "UNFETCHED", 10L, 1.0f, 0L))
        .toDF(), buckets = 4)
    val wal = Seq(
      CrawlStateUrl("http://c.com/x", "c.com", "UNFETCHED", 20L, 1.0f, 0L))
      .toDF()
    graft.crawl.FrontierStore.appendWal(spark, root, wal, 0L)
    // simulate the crash shape: the fold COMMITS (manifest watermark
    // advances) but the process dies before deleting the WAL dir
    graft.crawl.FrontierStore.mergeInto(spark, root, wal, buckets = 4,
      walWatermark = Some(0L))
    assert(new java.io.File(s"$root/_wal/w0").exists(), "crash precondition")
    // replay must SKIP the folded batch: score stays 2.0, not 3.0
    val score = FrontierRows(spark, root, buckets = 4)
      .filter(col("url") === "http://c.com/x")
      .select("score").head().getFloat(0)
    assert(score == 2.0f, s"watermark failed to fence the folded WAL: $score")
    // the next compaction reclaims the leftover dir without re-applying
    graft.crawl.FrontierStore.compactWal(spark, root, buckets = 4)
    assert(!new java.io.File(s"$root/_wal/w0").exists())
    val after = graft.crawl.FrontierStore.read(spark, root).get
      .filter(col("url") === "http://c.com/x")
      .select("score").head().getFloat(0)
    assert(after == 2.0f)
  }

  test("WAL: a killed crawl's pending WAL replays into the resumed frontier") {
    import spark.implicits._
    import graft.schema.CrawlStateUrl
    val root = java.nio.file.Files.createTempDirectory("graft-walD").toString
    // the store knows /a FETCHED; a WAL batch from a killed run carries
    // /b's sighting that never got folded
    graft.crawl.FrontierStore.mergeInto(spark, root,
      Seq(CrawlStateUrl("http://k.com/a", "k.com", "FETCHED", 10L, 1.0f, 99L))
        .toDF(), buckets = 4)
    graft.crawl.FrontierStore.appendWal(spark, root,
      Seq(CrawlStateUrl("http://k.com/b", "k.com", "UNFETCHED", 20L, 1.0f, 0L))
        .toDF(), graft.crawl.FrontierStore.nextWalSeq(spark, root))
    val resolved = FrontierRows(spark, root, buckets = 4)
      .select("url", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(resolved == Map(
      "http://k.com/a" -> "FETCHED", "http://k.com/b" -> "UNFETCHED"),
      s"got $resolved")
  }

  test("WAL: folding tombstone-only batches into a fresh root advances the watermark") {
    import spark.implicits._
    import graft.schema.CrawlStateUrl
    val root = java.nio.file.Files.createTempDirectory("graft-walE").toString
    // a fresh root whose every WAL row is a REMOVED tombstone: the fold
    // writes no bucket, but it must still record the watermark
    (0L to 1L).foreach { seq =>
      graft.crawl.FrontierStore.appendWal(spark, root,
        Seq(CrawlStateUrl(s"http://t.com/$seq", "t.com", "REMOVED",
          Long.MaxValue, 0.0f, Long.MaxValue)).toDF(), seq)
    }
    graft.crawl.FrontierStore.compactWal(spark, root, buckets = 4)
    val left = Option(new java.io.File(s"$root/_wal").list()).toSeq.flatten
    assert(left.isEmpty, s"folded tombstone batches never reclaimed: $left")
    assert(graft.crawl.FrontierStore.nextWalSeq(spark, root) == 2L)
    assert(graft.crawl.FrontierStore.read(spark, root).isEmpty)
    // the bucket-less manifest stays a valid base for the next fold
    graft.crawl.FrontierStore.appendWal(spark, root,
      Seq(CrawlStateUrl("http://t.com/live", "t.com", "UNFETCHED", 5L, 1.0f, 0L))
        .toDF(), 2L)
    graft.crawl.FrontierStore.compactWal(spark, root, buckets = 4)
    assert(graft.crawl.FrontierStore.read(spark, root).get
      .select("url").as[String].collect().toSeq == Seq("http://t.com/live"))
  }

  test("frontier reads take the written schema and run no job outside a SQL execution") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-walF").toString
    // a decimal-score store (the schema a fixed CrawlStateUrl read gets
    // wrong) over more bucket dirs than Spark lists without a job
    val rows = (0 until 80).map(i =>
        (s"http://s$i.com/a", s"s$i.com", "UNFETCHED", 1L, 0L))
      .toDF("url", "pld", "status", "statusTime", "nextFetchTime")
      .select(col("url"), col("pld"), col("status"), col("statusTime"),
        lit(BigDecimal("1.50")).cast("decimal(10,2)").as("score"),
        col("nextFetchTime"))
    graft.crawl.FrontierStore.mergeInto(spark, root, rows, buckets = 64)
    assert(new java.io.File(s"$root/g0").list().count(_.startsWith("bucket=")) >
      spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    graft.crawl.FrontierStore.appendWal(spark, root, rows.limit(3), 0L)
    val sc = spark.sparkContext
    val jobs = new JobsByTag
    sc.addSparkListener(jobs)
    sc.addJobTag("reads")
    try {
      val stored = graft.crawl.FrontierStore.read(spark, root).get
      // the owners' read parses the decimal score: the three WAL sightings
      // of stored UNFETCHED urls sum to 3.0
      val scores = FrontierRows(spark, root, buckets = 64)
        .map(_.score).collect().groupBy(identity).map { case (s, n) => s -> n.length }
      assert(scores == Map(1.5f -> 77, 3.0f -> 3), scores)
      graft.crawl.FrontierStore.compactWal(spark, root, buckets = 64)
      org.apache.spark.TestBus.drain(sc)
      assert(stored.schema("score").dataType.typeName == "decimal(10,2)")
      assert(jobs.counts("reads").outsideSql.get == 0, jobs.counts("reads"))
    } finally {
      sc.removeJobTag("reads")
      sc.removeSparkListener(jobs)
    }
  }

  test("domainSlice hashes the pld on the driver: building the slice starts no job") {
    import spark.implicits._
    import graft.schema.CrawlStateUrl
    val root = java.nio.file.Files.createTempDirectory("graft-slice").toString
    graft.crawl.FrontierStore.mergeInto(spark, root, (0 until 32)
      .map(i => CrawlStateUrl(s"http://d$i.com/p", s"d$i.com", "UNFETCHED",
        1L, 1.0f, 0L)).toDF(), buckets = 8)
    val (slice, jobs) = JobsDuring(spark)(
      graft.crawl.FrontierStore.domainSlice(spark, root, "d7.com"))
    assert(jobs == 0, s"building the d7.com slice started $jobs job(s)")
    assert(slice.get.select("url").as[String].collect().toSeq == Seq("http://d7.com/p"))
  }

  test("a legacy b<bucket>/v<ver> manifest fails loudly, naming the layout") {
    import spark.implicits._
    import graft.schema.CrawlStateUrl
    val root = java.nio.file.Files.createTempDirectory("graft-frontier4").toString
    // the pre-generation layout: a bucket dir at v0 and a plain manifest
    // whose location token is a bare version number
    Seq(CrawlStateUrl("http://a.com/x", "a.com", "UNFETCHED", 100L, 1.0f, 0L))
      .toDF().write.parquet(s"$root/b0/v0")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_MANIFEST_v0"), "buckets 4\n0 0")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "_LATEST"), "0")
    val reads = Seq[() => Any](
      () => graft.crawl.FrontierStore.read(spark, root),
      () => graft.crawl.FrontierStore.domainSlice(spark, root, "a.com"),
      () => graft.crawl.FrontierStore.mergeInto(spark, root,
        Seq(CrawlStateUrl("http://a.com/y", "a.com", "UNFETCHED", 200L, 1.0f, 0L))
          .toDF(), buckets = 4))
    reads.foreach { call =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("b<bucket>/v<ver>"), e.getMessage)
    }
    // nothing was rewritten: the failed merge left the store as it was
    assert(new java.io.File(s"$root/b0/v0").exists())
    assert(!new java.io.File(s"$root/_MANIFEST_v1").exists())
  }
}

class JaccardSkewGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("doc-frequency cap drops stop-phrase shingles from the join") {
    import spark.implicits._
    // every doc shares the stop phrase; only 1&2 share real content
    val docs = Seq(
      (1L, "click here now alpha beta gamma delta"),
      (2L, "click here now alpha beta gamma epsilon"),
      (3L, "click here now zeta eta theta iota"),
      (4L, "click here now kappa lambda mu nu")
    ).toDF("doc_id", "text")
    val strict = graft.operators.TextOps.ngramJaccardPairs(
      docs, "doc_id", "text", k = 3, threshold = 0.3,
      maxDocFrequency = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = graft.operators.TextOps.ngramJaccardPairs(
      docs, "doc_id", "text", k = 3, threshold = 0.3,
      maxDocFrequency = Some(0.6))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // without the guard, the shared stop-phrase inflates every pair
    assert(strict.contains((1L, 2L)))
    // with the guard the stop-phrase shingles are gone; only the real
    // near-dup pair remains above threshold
    assert(guarded == Set((1L, 2L)), s"got $guarded vs strict $strict")
  }

  test("guarded path runs the shingle pipeline once; the doc-count cap is a broadcast, not a driver count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta")
    ).toDF("doc_id", "text")
    val pairs = graft.operators.TextOps.ngramJaccardPairs(
      docs, "doc_id", "text", k = 3, threshold = 0.3,
      maxDocFrequency = Some(0.6))
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    // pre-join work reads the ONE checkpointed shingle pass: the shingle
    // UDF must not appear anywhere in the executed plan (it would mean a
    // second corpus pass for the frequent-shingle aggregate), and the
    // doc-count threshold must ride in as a broadcast 1-row aggregate
    // (plan contains the broadcast join; no separate driver-side count
    // job is observable in the plan because there is none)
    assert(!plan.contains("UDF"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(3000))
  }

  test("default guard bounds hot-shingle join fan-out") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 500 docs; 20% share a 5-token boilerplate phrase (3 hot shingles,
    // each at 20% doc frequency > the 10% default cap); docs 900/901 are a
    // genuine near-dup pair on unique content
    val n = 500
    val hot = "click here to subscribe now"
    val docs = (0 until n).map { i =>
      val filler = s"unique${i}a unique${i}b unique${i}c unique${i}d"
      val text = if (i < n / 5) s"$hot $filler" else filler
      (i.toLong, text)
    } ++ Seq(
      (900L, "the quick brown fox jumps over the lazy dog"),
      (901L, "the quick brown fox jumps over the lazy cat"))
    val df = docs.toDF("doc_id", "text")

    // analytic join fan-out: sum over shingle buckets of c*(c-1)/2
    def fanout(capped: Boolean): Long = {
      val counts = df
        .select(explode(graft.operators.TextOps.shingleUdf(3)($"text")).as("s"))
        .groupBy("s").count()
      val cap = math.max(1L, (df.count() * 0.1).toLong)
      val kept = if (capped) counts.filter($"count" <= cap) else counts
      kept.agg(coalesce(sum(expr("count * (count - 1) DIV 2")), lit(0L)))
        .first().getLong(0)
    }
    val exact = fanout(capped = false)
    val guarded = fanout(capped = true)
    // each hot shingle alone contributes C(100,2) = 4950 pairs
    assert(exact >= 3 * 4950L, s"exact fan-out $exact")
    // guarded fan-out is the real near-dup pairs only (no hot buckets)
    assert(guarded < 100L, s"guarded fan-out $guarded not bounded")

    // and the DEFAULT entry point still finds the genuine near-dup pair
    val pairs = graft.operators.TextOps
      .ngramJaccardPairs(df, "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((900L, 901L)), s"got $pairs")
  }

  test("edit-verified pairs: LSH candidates filtered by banded levenshtein") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, base),
      (2L, base.replace("tok20 ", "tokXX ")), // 2 char substitutions
      (3L, "entirely different unrelated content words here"),
      (4L, base), // identical to 1
      (5L, base.replace("tok20 ", "completelydifferentverylongtoken "))
    ).toDF("doc_id", "text")
    val verified = TextOps.editVerifiedPairs(d, "doc_id", "text",
      shingleK = 3, numHashes = 16, bandSize = 4, maxEdits = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(verified.get((1L, 4L)).contains(0L), s"got $verified")
    assert(verified.get((1L, 2L)).contains(2L), s"got $verified")
    assert(verified.get((2L, 4L)).contains(2L), s"got $verified")
    // doc 5 is an LSH candidate of 1/2/4 (one token differs) but its
    // edit distance blows the cap; doc 3 is never even a candidate
    assert(!verified.keys.exists(p => p._1 == 5L || p._2 == 5L), s"$verified")
    assert(!verified.keys.exists(p => p._1 == 3L || p._2 == 3L), s"$verified")
  }

  test("keyword candidates: df guard drops stopwords, rare terms rank first") {
    import spark.implicits._
    val d = Seq(
      (1L, "apple apple apple common zebra"),
      (2L, "banana banana common zebra zebra"),
      (3L, "common cherry cherry cherry"),
      (4L, "xx xx yy yy common")
    ).toDF("doc_id", "text")
    // df: common=4 (guarded: > 4*0.5), zebra=2, rest=1
    val kw = TextOps.keywordCandidates(d, "doc_id", "text",
      topK = 2, maxDocFrequencyFrac = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(4)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(kw((1L, 1L)) == (("apple", 3L, 1L)))
    assert(kw((1L, 2L)) == (("zebra", 1L, 2L))) // rarer beats nothing else left
    assert(kw((2L, 1L)) == (("banana", 2L, 1L)))
    assert(kw((2L, 2L)) == (("zebra", 2L, 2L)))
    assert(kw((3L, 1L)) == (("cherry", 3L, 1L)))
    // tf tie (xx=2, yy=2) and df tie -> lexicographic term breaks it
    assert(kw((4L, 1L)) == (("xx", 2L, 1L)))
    assert(kw((4L, 2L)) == (("yy", 2L, 1L)))
    assert(!kw.values.exists(_._1 == "common"), s"stopword leaked: $kw")

    // float fold: tfidf = tf * ln(N/df)
    val scores = TextOps.tfidfKeywords(d, "doc_id", "text",
      topK = 2, maxDocFrequencyFrac = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term")) ->
        r.getAs[Double]("tfidf")).toMap
    assert(math.abs(scores((1L, "apple")) - 3.0 * math.log(4.0)) < 1e-12)
    assert(math.abs(scores((2L, "zebra")) - 2.0 * math.log(2.0)) < 1e-12)
  }

  test("keep-first segment dedup: first corpus occurrence survives") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),   // segs: "a b", "c d" — both first occurrences
      (2L, "a b e f"),   // "a b" already seen in doc 1 -> dropped
      (3L, "c d c d"),   // both occurrences later than doc 1 -> empty doc
      (4L, "g h g h")    // intra-doc repeat: first kept, second dropped
    ).toDF("doc_id", "text")
    val r = TextOps.keepFirstSegmentDedup(d, "doc_id", "text", segTokens = 2)
      .collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_segments"),
          x.getAs[Long]("n_kept")))).toMap
    assert(r(1L) == (("a b c d", 2L, 2L)))
    assert(r(2L) == (("e f", 2L, 1L)))
    assert(r(3L) == (("", 2L, 0L)))
    assert(r(4L) == (("g h", 2L, 1L)))
  }

  test("contamination report: per-item doc and shingle-hit counts") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),     // shares "alpha beta gamma" + "beta gamma delta" with item 10
      (2L, "alpha beta gamma zzz"),       // shares "alpha beta gamma" with item 10
      (3L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "never seen in corpus text")
    ).toDF("bench_id", "btext")
    val rep = TextOps.contaminationReport(corpus, "doc_id", "text",
      bench, "bench_id", "btext", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // item 10: docs 1 and 2 overlap; hits = doc1 x 2 shingles + doc2 x 1
    assert(rep(10L) == ((2L, 3L)), rep.toString)
    // item 11 has no overlap -> absent from the report
    assert(!rep.contains(11L), rep.toString)
  }

  test("count-min sketch: mass conserved per row, lookups never undercount") {
    import spark.implicits._
    val d = Seq(
      (1L, "apple apple apple banana cherry"),
      (2L, "apple banana banana date elderberry fig"),
      (3L, "grape grape kiwi lemon mango peach plum")
    ).toDF("doc_id", "text")
    val sketch = TextOps.countMinSketch(d, "text", depth = 4, width = 64)
      .localCheckpoint(true)
    // every row of the grid sees every one of the 18 token occurrences
    val perRow = sketch.groupBy("row").agg(sum("cnt").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRow == Map(0L -> 18L, 1L -> 18L, 2L -> 18L, 3L -> 18L), perRow)
    // point estimates: est >= true frequency for present terms, and the
    // never-seen term can only collide upward from zero
    val truth = Map("apple" -> 4L, "banana" -> 3L, "grape" -> 2L,
      "fig" -> 1L)
    val est = TextOps.cmsLookup(sketch,
      (truth.keys.toSeq :+ "zzz").toDF("t"), "t", depth = 4, width = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (t, n) =>
      assert(est(t) >= n, s"undercount for $t: ${est(t)} < $n")
    }
    assert(est("zzz") >= 0L)
    // 13 distinct terms over 4x64 buckets: at least one row is
    // collision-free for each, so the estimates are exact here
    assert(truth.forall { case (t, n) => est(t) == n }, s"$est vs $truth")
    // mergeability: sketching two halves and adding counters equals
    // sketching the whole (counters are sums — order/shard independent)
    val left = TextOps.countMinSketch(d.filter($"doc_id" <= 1), "text")
    val right = TextOps.countMinSketch(d.filter($"doc_id" > 1), "text")
    val merged = left.unionByName(right)
      .groupBy("row", "col").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = sketch.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
  }

  test("hll registers: merge by max, estimate tracks exact distinct count") {
    import spark.implicits._
    // 2000 distinct tokens spread over 100 docs, heavy repetition
    val d = (0L until 100L).map { i =>
      val toks = (0 until 60).map(j => s"w${(i * 60 + j) % 2000}")
      (i, (toks ++ toks.take(20)).mkString(" ")) // repeats don't matter
    }.toDF("doc_id", "text")
    val regs = TextOps.hllRegisters(d, "text", buckets = 64)
      .localCheckpoint(true)
    // registers from two shards merge by elementwise max
    val left = TextOps.hllRegisters(d.filter($"doc_id" < 50), "text")
    val right = TextOps.hllRegisters(d.filter($"doc_id" >= 50), "text")
    val merged = left.unionByName(right)
      .groupBy("bucket").agg(max("register").as("register"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = regs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == whole)
    // estimate within HLL's error band of the exact vocabulary (2000);
    // 1.04/sqrt(64) = 13% standard error — assert a generous 3 sigma
    val est = TextOps.hllEstimate(regs, buckets = 64)
    assert(math.abs(est / 2000.0 - 1.0) < 0.4, s"est $est vs 2000")
  }

  test("blocklist gate: strict C4 policy drops any-hit docs, stats count hits") {
    import spark.implicits._
    val d = Seq(
      (1L, "perfectly clean text here"),
      (2L, "one BADWORD in the middle"),       // case-insensitive hit
      (3L, "badword badword badword spam"),
      (4L, "")                                  // empty: no tokens, absent
    ).toDF("doc_id", "text")
    val bl = Seq("BadWord", "unused").toDF("word")
    val hits = TextOps.blocklistHits(d, "doc_id", "text", bl, "word")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hits(1L) == ((4L, 0L)), hits.toString)
    assert(hits(2L) == ((5L, 1L)), hits.toString)
    assert(hits(3L) == ((4L, 3L)), hits.toString)
    assert(!hits.contains(4L), hits.toString)
    val kept = TextOps.blocklistGate(d, "doc_id", "text", bl, "word")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L), kept.toString) // no-token docs survive
    // threshold policy: allow a single slip
    val lenient = TextOps.blocklistGate(d, "doc_id", "text", bl, "word",
      maxHits = 1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lenient == Set(1L, 2L, 4L), lenient.toString)
  }

  test("keep-first invariant: kept count equals distinct segments corpus-wide") {
    import spark.implicits._
    // 80 docs over a 6-word vocabulary -> massive segment reuse
    val vocab = Vector("red", "blue", "green", "fish", "bird", "tree")
    val d = (0L until 80L).map { i =>
      val words = (0 until 7).map(j => vocab(((i * 13 + j * 5 + j * j) % 6).toInt))
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val res = TextOps.keepFirstSegmentDedup(d, "doc_id", "text", segTokens = 2)
    // every distinct segment survives exactly once across the whole corpus
    val kept = res.agg(sum("n_kept")).first().getLong(0)
    val distinctSegs = d
      .selectExpr(s"posexplode(${TextOps.segmentsSql(TextOps.tokensSql("text"), 2)}) AS (pos, seg)")
      .select("seg").distinct().count()
    assert(kept == distinctSegs, s"kept $kept != distinct $distinctSegs")
    // and nothing is invented: total segments unchanged
    val total = res.agg(sum("n_segments")).first().getLong(0)
    val rawSegs = d
      .selectExpr(s"posexplode(${TextOps.segmentsSql(TextOps.tokensSql("text"), 2)}) AS (pos, seg)")
      .count()
    assert(total == rawSegs)
  }

  test("dsir scores rank target-like docs above off-distribution docs") {
    import spark.implicits._
    // target distribution: "alpha beta" prose; off-distribution: "zz yy"
    val raw = (0L until 40L).map { i =>
      val text =
        if (i % 2 == 0) s"alpha beta gamma alpha beta delta t$i"
        else s"zz yy xx ww vv uu n$i"
      (i, text)
    }.toDF("doc_id", "text")
    val target = raw.filter($"doc_id" % 10 === 0) // all even => alpha-like
    val scores = TextOps.dsirScores(raw, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("dsir_score").toDouble / r.getAs[Long]("n_tokens")))
      .toMap
    val meanLike = (0L until 40L by 2).map(scores).sum / 20
    val meanOff = (1L until 40L by 2).map(scores).sum / 20
    assert(meanLike > meanOff * 2,
      s"target-like $meanLike vs off $meanOff")
    // the float log-sum estimator agrees on the ordering
    val ls = TextOps.dsirLogScores(raw, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("dsir_log_score") / r.getAs[Long]("n_tokens")))
      .toMap
    val logLike = (0L until 40L by 2).map(ls).sum / 20
    val logOff = (1L until 40L by 2).map(ls).sum / 20
    assert(logLike > logOff, s"log: target-like $logLike vs off $logOff")
    // deterministic: integer column identical across runs
    val again = TextOps.dsirScores(raw, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("dsir_score").toDouble / r.getAs[Long]("n_tokens")))
      .toMap
    assert(again == scores)
  }

  test("lsh band plan lands the S-curve inflection near the threshold") {
    // 16 hashes: t=0.5 -> 4 bands of 4 ((1/4)^(1/4) = 0.707.. vs
    // (1/8)^(1/2) = 0.354 vs (1/2)^(1/8) = 0.917): 8x2 is closest to 0.5
    assert(TextOps.lshBandPlan(16, 0.5) == ((8, 2)))
    // high precision threshold -> few bands, long rows
    val (bHi, rHi) = TextOps.lshBandPlan(16, 0.95)
    assert(bHi < 8 && bHi * rHi == 16)
    // recall-leaning threshold -> many bands
    val (bLo, rLo) = TextOps.lshBandPlan(16, 0.2)
    assert(bLo >= 8 && bLo * rLo == 16)
    // the q25/q31 default (16 hashes, 4x4) is the planner's 0.7 answer
    assert(TextOps.lshBandPlan(16, 0.7) == ((4, 4)))
  }

  test("novelty: all-unique doc scores 100, duplicated docs score 0") {
    import spark.implicits._
    val d = Seq(
      (1L, "aa bb cc dd ee ff"), // unique shingles
      (2L, "one two three four five"),
      (3L, "one two three four five"), // dup of 2 -> df 2 everywhere
      (4L, "xx yy") // < k tokens: no shingles, absent from output
    ).toDF("doc_id", "text")
    val out = TextOps.noveltyScores(d, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("novelty_pct")).toMap
    assert(out == Map(1L -> 100L, 2L -> 0L, 3L -> 0L), out.toString)
  }

  test("gopher repetition: spam doc maxes both signals, prose stays low") {
    import spark.implicits._
    val d = Seq(
      // "buy now" * 8: every bigram lands in {buy now, now buy}; every
      // 5-window repeats
      (1L, Seq.fill(8)("buy now").mkString(" ")),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "tiny") // 1 token: no bigrams, no windows — zeros, not absent
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRepetition(d, "doc_id", "text", w = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("top_bigram_pct"),
          r.getAs[Long]("dup_window_pct")))).toMap
    val (n1, top1, dup1) = out(1L)
    assert(n1 == 16 && top1 >= 50 && dup1 == 100, out(1L).toString)
    val (n2, top2, dup2) = out(2L)
    assert(n2 == 10 && top2 <= 20 && dup2 == 0, out(2L).toString)
    assert(out(3L) == ((1L, 0L, 0L)), out(3L).toString)
  }

  test("source overlap matrix counts shared fingerprints per source pair") {
    import spark.implicits._
    val d = Seq(
      (1L, "web", "shared page one"),
      (2L, "books", "shared page one"), // dup across web/books
      (3L, "web", "another shared text"),
      (4L, "code", "another shared text"), // dup across web/code
      (5L, "books", "another shared text"), // and books/code + web/books
      (6L, "web", "unique to web only")
    ).toDF("doc_id", "source", "text")
    val out = TextOps.sourceOverlapMatrix(d, md5(col("text")), "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_shared"))
      .toMap
    assert(out == Map(
      ("books", "web") -> 2L, // "shared page one" + "another shared text"
      ("books", "code") -> 1L,
      ("code", "web") -> 1L), out.toString)
  }
}
