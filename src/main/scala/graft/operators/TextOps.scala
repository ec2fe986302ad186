package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}

/** Text-analysis and deduplication operators for large-scale training-data
  * pipelines. Everything here is built from native Catalyst expressions
  * (transform/aggregate lambdas, md5, window ranking) — no Scala UDFs — so
  * the whole pipeline stays inside whole-stage codegen and the semantics
  * are expressible 1:1 in any SQL engine (the DuckDB oracles mirror these
  * formulas).
  *
  * Scale design: every op is a per-row projection followed by (at most) one
  * hash shuffle on a derived key (fingerprint, shingle, band, bucket), so
  * each parallelizes linearly: no driver-side state, no cross-partition
  * iteration. Self-joins are always on a pre-exploded bounded-fan-out key.
  *
  * Expression builders are SQL strings parameterized by the input column
  * name, so composed expressions stay parseable and identical between the
  * Spark plan and the oracle.
  */
object TextOps {

  // ------------------------------------------------------- expression SQL

  /** Whitespace tokens of a trimmed text column. */
  def tokensSql(c: String): String = s"split(trim($c), '\\\\s+')"

  /** Distinct word k-shingles ("a b c") from an already-tokenized array
    * column. Keeping the token array a materialized column matters: inlined
    * into a lambda it would be re-split once per shingle position (O(L^2)
    * per document).
    */
  def shinglesFromToksSql(toksCol: String, k: Int): String =
    s"""CASE WHEN size($toksCol) >= $k THEN
       | array_distinct(transform(sequence(0, size($toksCol) - $k),
       |   i -> concat_ws(' ', slice($toksCol, i + 1, $k))))
       | ELSE cast(array() as array<string>) END"""
      .stripMargin.replaceAll("\n", " ")

  /** Distinct word k-shingles of a raw text column (oracle-shaped single
    * expression; operators stage through [[shingleUdf]] instead).
    */
  def shinglesSql(c: String, k: Int): String =
    shinglesFromToksSql(tokensSql(c), k)

  /** Distinct word k-shingles as a Scala UDF. Higher-order-function shingle
    * construction is interpreted (HOFs have no codegen) and was the
    * pipeline bottleneck (~5x slower); this is value-identical: same
    * whitespace tokens ([[graft.plans.TextCodegen.shingles]]), same
    * first-occurrence distinct order.
    */
  def shingleUdf(k: Int): UserDefinedFunction = udf { (text: String) =>
    graft.plans.TextCodegen.shingles(
      org.apache.spark.unsafe.types.UTF8String.fromString(text), k)
  }

  /** Whole MinHash signature (tokens -> k-shingles -> 32-bit md5 hashes ->
    * numHashes permutation minima
    * h_j(x) = ((j*2654435761 + 1) mod p) * x + j*97 + 13 mod p, p = 1e9+7)
    * in one Scala UDF (scalar core shared with the native expression in
    * [[graft.plans.TextCodegen]]). A higher-order-function form of the
    * same arithmetic is interpreted, and Catalyst inlines referenced-once
    * projections into downstream lambdas / generators, which then
    * re-evaluate the whole pipeline per element (a measured 60s-vs-0.2s
    * cliff on 5k docs at sf0.1 when the sig expression lands inside an
    * explode).
    */
  def minhashSigUdf(shingleK: Int, numHashes: Int): UserDefinedFunction =
    udf { (text: String) =>
      graft.plans.TextCodegen.minhashSigArray(text, shingleK, numHashes)
    }

  /** LSH band keys ("b-sig[b*size],...") from a signature array; mirrors
    * concat_ws semantics (null signature entries are skipped).
    */
  def bandKeysUdf(numBands: Int, bandSize: Int): UserDefinedFunction =
    udf { (sig: Seq[java.lang.Long]) =>
      Array.tabulate(numBands) { b =>
        val joined = sig.slice(b * bandSize, (b + 1) * bandSize)
          .filter(_ != null).mkString(",")
        s"$b-$joined"
      }
    }

  /** Stable 32-bit-range hash of a string expression (first 8 hex chars of
    * its md5) — identical arithmetic exists in any engine with md5.
    */
  def hash32Sql(s: String): String =
    s"cast(conv(substr(md5($s), 1, 8), 16, 10) as bigint)"

  // --------------------------------------------------------- deduplication

  /** Exact duplicate clusters by content fingerprint: one row per distinct
    * fingerprint with the representative (min id) and cluster size.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("representative"),
        count(lit(1)).as("cluster_size"))

  /** Canonical-text fingerprint (lowercase, alphanumeric only) — catches
    * formatting-only duplicates that exact md5 misses.
    */
  def canonicalFingerprintSql(c: String): String =
    s"md5(regexp_replace(lower($c), '[^a-z0-9]', ''))"

  /** Non-overlapping `w`-token segments of an already-tokenized array
    * column, in order, final partial segment included — the deterministic
    * "pseudo-paragraph" unit for corpus-frequency boilerplate removal when
    * the text has no native line structure. Pure Catalyst sequence/slice,
    * mirrored 1:1 by a DuckDB range/list-slice expression.
    */
  def segmentsSql(toksCol: String, w: Int): String =
    s"""CASE WHEN size($toksCol) = 0 THEN cast(array() as array<string>)
       | ELSE transform(
       |   sequence(0, cast(ceil(size($toksCol) / cast($w as double)) as int) - 1),
       |   i -> concat_ws(' ', slice($toksCol, i * $w + 1, $w))) END"""
      .stripMargin.replaceAll("\n", " ")

  /** RefinedWeb/C4-style boilerplate removal: drop every text segment whose
    * corpus document frequency reaches `minDocFrequency` (navigation bars,
    * cookie banners, share buttons — content that repeats across unrelated
    * pages), and reassemble each document from its surviving segments in
    * original order. Returns (id, clean_text, n_segments, n_removed); a
    * fully-boilerplate document survives with `clean_text = ""` so the
    * caller can threshold instead of silently losing rows.
    *
    * Scale shape: three hash shuffles, all on bounded keys — (id, seg)
    * distinct + segment doc-frequency count (partial agg combines
    * map-side), the seg-keyed mark join, and the per-doc positional
    * rebuild. No window over the corpus, no driver state; the frequent-
    * segment set is never collected or broadcast by construction (its size
    * is corpus-dependent), so the plan is shuffle-bound and linear.
    */
  def removeBoilerplate(
      df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10, minDocFrequency: Int = 3,
      minDocFraction: Option[Double] = None): DataFrame = {
    val segs = df
      .select(col(idCol), expr(tokensSql(textCol)).as("toks"))
      .select(col(idCol),
        posexplode(expr(segmentsSql("toks", segTokens))).as(Seq("pos", "seg")))
    // minDocFraction makes the threshold scale with the corpus (an absolute
    // "appears in >= 3 docs" is boilerplate at 1k docs but noise at 1B);
    // the corpus count joins in as a broadcast 1-row aggregate, so the
    // fractional form costs one cheap global count, no extra corpus pass.
    val segDf = segs.select(col(idCol), col("seg")).distinct()
      .groupBy("seg").agg(count(lit(1)).as("seg_df"))
    val thresholded = minDocFraction match {
      case None => segDf.filter(col("seg_df") >= minDocFrequency)
      case Some(frac) =>
        segDf
          .crossJoin(broadcast(df.select(count(lit(1)).as("n_docs_total"))))
          .filter(col("seg_df") >= greatest(lit(minDocFrequency.toLong),
            ceil(col("n_docs_total") * frac).cast("long")))
    }
    val boiler = thresholded.select(col("seg"), lit(1).as("bp"))
    segs.join(boiler, Seq("seg"), "left")
      .groupBy(idCol)
      .agg(
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("bp").isNull, struct(col("pos"), col("seg"))))),
            s => s.getField("seg"))).as("clean_text"),
        count(lit(1)).as("n_segments"),
        coalesce(sum(col("bp")), lit(0)).cast("long").as("n_removed"))
  }

  /** Default shingle doc-frequency cap for n-gram dedup: a shingle present
    * in more than this fraction of the corpus is a stop-phrase (boilerplate,
    * navigation text) whose join bucket pair-fans-out quadratically — at
    * web scale one such key dominates the whole stage, so the guard is ON
    * by default and exact mode is the explicit opt-in (`None`).
    */
  val DefaultShingleDocFrequency: Option[Double] = Some(0.1)

  /** Verified near-duplicate pairs by word-k-shingle Jaccard >= threshold.
    * One shuffle on the shingle key, one aggregation per candidate pair;
    * per-document fan-out is bounded by document length, and the default
    * doc-frequency guard bounds per-shingle fan-out (see
    * [[DefaultShingleDocFrequency]]).
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      // skew guard for web-scale corpora: drop shingles appearing in more
      // than this fraction of documents before the join (stop-phrases are
      // the classic hotspot key). None = exact Jaccard over all shingles,
      // kept for oracle parity and small corpora.
      maxDocFrequency: Option[Double] = DefaultShingleDocFrequency): DataFrame = {
    val exploded = df
      .select(col(idCol).as("doc_id"), shingleUdf(k)(col(textCol)).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"),
        explode(col("sh")).as("s"))

    def jaccardTail(pairs: DataFrame): DataFrame = pairs
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard")

    maxDocFrequency match {
      case None =>
        // exact path: streaming self-join. The join's pair fan-out is
        // quadratic in bucket occupancy but never buffers a bucket, so
        // hot shingles degrade throughput, not memory.
        // both self-join branches read the same materialized shingle set;
        // ReuseExchange does NOT dedup the two branches under AQE (A/B'd
        // at sf1: barrier-free ran the UDF pipeline twice and measured
        // 46 s vs 16 s — PERF_NOTES §sf1 scale probe), so the explicit
        // barrier stays. The blocks it pins belong to the session owner:
        // drop them BETWEEN queries (Bench does) — never mid-query.
        val shC = exploded.localCheckpoint(true)
        jaccardTail(shC.as("a")
          .join(shC.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.n").as("n_a"), col("b.n").as("n_b")))
      case Some(ratio) =>
        // guarded path: frequent (stop-phrase) shingles are dropped
        // before the same streaming self-join. A pair-list formulation
        // (collect_list per shingle + pair UDF) measured 40% faster but
        // buffers O(postings^2) tuples in ONE row — cap*cap can still be
        // an executor OOM (and it narrows the id type) — so the join
        // stays; it degrades in throughput, never in memory.
        // one corpus pass for the shingle pipeline: frequent-agg and the
        // join input both read this barrier (same ReuseExchange rationale
        // as the exact path — unpinned, the UDF pipeline ran twice)
        val expC = exploded.localCheckpoint(true)
        // floor(N*ratio) but never 0: on tiny corpora a zero cap would
        // classify every shingle as frequent and drop them all. The doc
        // count rides in as a broadcast 1-row aggregate (the
        // removeBoilerplate minDocFraction form) instead of a
        // driver-side df.count() — no separate corpus-scanning job just
        // to derive a threshold
        val frequent = expC.groupBy("s").count()
          .crossJoin(broadcast(df.select(count(lit(1)).as("n_docs_total"))))
          .filter(col("count") >
            greatest(lit(1L), floor(col("n_docs_total") * ratio).cast("long")))
          .select("s")
        // Jaccard is then over the filtered shingle sets, so set sizes
        // are recomputed post-filter (same barrier rationale as the
        // exact path above)
        val filtered = expC
          .join(broadcast(frequent), Seq("s"), "left_anti")
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy(col("doc_id"))))
          .localCheckpoint(true)
        jaccardTail(filtered.as("a")
          .join(filtered.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.n").as("n_a"), col("b.n").as("n_b")))
    }
  }

  /** Per-document MinHash signatures — one native codegen expression per
    * row ([[graft.plans.MinHashSigExpr]]; see [[minhashSigUdf]] for why
    * not staged HOF columns — interpreted HOFs re-evaluate the inlined
    * pipeline per element).
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.plans.TextExpressions
        .minhash_sig(col(textCol), shingleK, numHashes).as("sig"))

  /** MinHash+LSH candidate pairs: signatures split into bands of
    * `bandSize`; docs sharing any band bucket become candidates. The scale
    * path for near-dup at 100 TB: per-row cost is O(shingles x K), then one
    * shuffle on (band, key) whose buckets are tiny by construction.
    */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bandSize: Int): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    val numBands = numHashes / bandSize
    val bands = minhashSignatures(df, idCol, textCol, shingleK, numHashes)
      .select(
        col("doc_id"),
        explode(bandKeysUdf(numBands, bandSize)(col("sig"))).as("band_key"))
      .distinct()
      .localCheckpoint(true) // sig pipeline runs once, not per join branch
    bands.as("x")
      .join(bands.as("y"),
        col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  /** Near-dup pairs at SIGNATURE-ONLY cost: LSH candidates from banded
    * signatures, then Jaccard ESTIMATED as the fraction of matching
    * signature positions (the MinHash estimator, unbiased with variance
    * ~ j(1-j)/K) — the raw text is touched exactly once (to build sigs).
    * [[minhashDedupPairs]] re-shingles every candidate for the exact
    * verify join; at 100 TB that second pass over text dominates, so this
    * estimator form is the recommended scale default when a ±1/√K
    * jaccard tolerance is acceptable.
    */
  def minhashDedupPairsApprox(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bandSize: Int,
      threshold: Double): DataFrame =
    minhashDedupPairsFromSigs(
      minhashSignatures(df, idCol, textCol, shingleK, numHashes),
      numHashes, bandSize, threshold)

  /** [[minhashDedupPairsApprox]] with signatures PRECOMPUTED — the form a
    * pipeline uses once its frame already carries a `sig` column (the
    * [[CorpusIngest]] batch path computes signatures once at the gates
    * stage and reuses them here, in the cross join, and in the index
    * append — text is read exactly once per batch). `sigs`: (doc_id, sig).
    */
  def minhashDedupPairsFromSigs(
      sigs: DataFrame, numHashes: Int, bandSize: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    val numBands = numHashes / bandSize
    val pinned = sigs.select(col("doc_id"), col("sig"))
      // sub-shingleK docs have an all-null sig (no shingles ⇒ jaccard
      // undefined) — excluded, otherwise every pair of them band-collides
      // and "matches" vacuously
      .filter(element_at(col("sig"), 1).isNotNull)
      .localCheckpoint(true) // one sig pass; feeds bands and both estimate sides
    val bands = pinned
      .select(col("doc_id"),
        explode(bandKeysUdf(numBands, bandSize)(col("sig"))).as("band_key"))
      .distinct()
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    cand
      .join(pinned.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(pinned.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("jaccard_est",
        expr(s"""size(filter(zip_with(sig_a, sig_b, (a, b) -> a = b),
                 | m -> m)) / cast($numHashes as double)"""
          .stripMargin.replaceAll("\n", " ")))
      .filter(col("jaccard_est") >= threshold)
      .select("id_a", "id_b", "jaccard_est")
  }

  /** The full near-dup pipeline at scale: MinHash+LSH candidate
    * generation, then exact Jaccard verification restricted to candidate
    * pairs — verification cost scales with candidates, not with the
    * all-pairs product.
    */
  def minhashDedupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bandSize: Int,
      threshold: Double): DataFrame = {
    val cand = minhashCandidates(df, idCol, textCol, shingleK, numHashes, bandSize)
      .localCheckpoint(true) // read twice: the id prune below + the verify join
    // verify only re-shingles docs that appear in SOME candidate pair —
    // without the prune the exact pass explodes and shuffles the WHOLE
    // corpus's shingles (50 M rows at sf10) to verify a 26 k-pair
    // candidate set; with it, cost scales with candidates (the operator's
    // stated contract). Measured: sf10 92.6 s → see PERF_NOTES r16.
    val candIds = cand.select(col("id_a").as("__cid"))
      .union(cand.select(col("id_b").as("__cid"))).distinct()
    val sh = df
      .join(candIds, col(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as("doc_id"), shingleUdf(shingleK)(col(textCol)).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"),
        explode(col("sh")).as("s"))
    cand
      .join(sh.as("a"), col("id_a") === col("a.doc_id"))
      .join(sh.as("b"),
        col("id_b") === col("b.doc_id") && col("a.s") === col("b.s"))
      .groupBy(col("id_a"), col("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental (batch-vs-corpus) near-dup: which NEW documents are
    * near-duplicates of something already in the corpus — the shape a
    * continuous crawl needs, where the corpus is a standing signature
    * index and each micro-batch/segment is checked against it without
    * ever re-shingling (or re-reading) corpus text. Same estimator math
    * as [[minhashDedupPairsApprox]], but the band join is new×corpus
    * instead of a self-join. Output: (new_id, corpus_id, jaccard_est)
    * for every match ≥ threshold; novel docs = `newDf` anti-joined on
    * new_id.
    *
    * Scale shape: corpus band keys are a precomputable, bucketable index
    * (signatures only — text is read once, at corpus build); per-batch
    * cost is batch_size × bands plus the bucket join, independent of
    * corpus text size. A small batch side broadcasts under AQE.
    */
  def crossDedupPairs(
      newDf: DataFrame, corpusDf: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bandSize: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    val numBands = numHashes / bandSize
    def sigsOf(df: DataFrame) =
      minhashSignatures(df, idCol, textCol, shingleK, numHashes)
        .filter(element_at(col("sig"), 1).isNotNull)
        .localCheckpoint(true)
    def bandsOf(sigs: DataFrame) = sigs
      .select(col("doc_id"),
        explode(bandKeysUdf(numBands, bandSize)(col("sig"))).as("band_key"))
      .distinct()
    val newSigs = sigsOf(newDf)
    val corpusSigs = sigsOf(corpusDf)
    bandsOf(newSigs).as("x")
      .join(bandsOf(corpusSigs).as("y"), col("x.band_key") === col("y.band_key"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
      .join(newSigs.select(col("doc_id").as("new_id"), col("sig").as("sig_a")),
        Seq("new_id"))
      .join(corpusSigs.select(col("doc_id").as("corpus_id"), col("sig").as("sig_b")),
        Seq("corpus_id"))
      .withColumn("jaccard_est",
        expr(s"""size(filter(zip_with(sig_a, sig_b, (a, b) -> a = b),
                 | m -> m)) / cast($numHashes as double)"""
          .stripMargin.replaceAll("\n", " ")))
      .filter(col("jaccard_est") >= threshold)
      .select("new_id", "corpus_id", "jaccard_est")
  }

  /** Near-dup pairs verified by EDIT DISTANCE instead of Jaccard: LSH
    * candidates from banded MinHash signatures, then a banded Levenshtein
    * check (`levenshtein(a, b, maxEdits)` — O(len × maxEdits), not
    * O(len²)) restricted to candidate pairs. The verify-by-edit-distance
    * form is what short-document dedup (titles, queries, code lines)
    * wants, where Jaccard over shingles is too coarse: a 4-edit mutation
    * of a 200-char doc keeps jaccard ≈ 0.9 but a 4-edit mutation of a
    * 20-char doc destroys every shingle.
    *
    * Scale shape: candidate generation is the banded equi-join
    * ([[minhashCandidates]]); verification joins text back by id (two
    * shuffle equi-joins, the q31 shape) and runs the thresholded
    * Levenshtein per pair — cost scales with candidates × maxEdits, never
    * with the all-pairs product, and the threshold form caps the DP band
    * so one pathological long doc can't go quadratic.
    */
  def editVerifiedPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bandSize: Int,
      maxEdits: Int): DataFrame = {
    val txt = df.select(col(idCol).as("doc_id"), col(textCol).as("t"))
    minhashCandidates(df, idCol, textCol, shingleK, numHashes, bandSize)
      .join(txt.select(col("doc_id").as("id_a"), col("t").as("ta")), Seq("id_a"))
      .join(txt.select(col("doc_id").as("id_b"), col("t").as("tb")), Seq("id_b"))
      // 3-arg levenshtein returns -1 when the distance exceeds the cap:
      // the filter and the value land in one banded DP pass
      .withColumn("edits", levenshtein(col("ta"), col("tb"), maxEdits))
      .filter(col("edits") >= 0)
      .select(col("id_a"), col("id_b"), col("edits").cast("long").as("edits"))
  }

  /** Keyword-extraction candidates — the integer core of TF-IDF: per-doc
    * term frequency, corpus document frequency, stopword guard (df above
    * `maxDocFrequencyFrac` of the corpus is a stopword, mirroring
    * [[DefaultShingleDocFrequency]]), and a deterministic per-doc ranking
    * (tf desc, then RARER term wins, then lexicographic) truncated to
    * `topK`. This ordering IS the tf-idf ordering whenever tf differs
    * (idf is monotone in 1/df), and breaks tf ties toward the more
    * informative term; the float `tf·ln(N/df)` fold on top is
    * [[tfidfKeywords]] (spec-tested — the q65/q67 split keeps the
    * driver-gated core order-independent integer arithmetic).
    *
    * Scale shape: one hash shuffle on (doc, term) for tf, one on term for
    * df (both partial-agg combine map-side), a term-keyed equi-join whose
    * df side is vocabulary-sized, and a per-doc ranking window that
    * WindowGroupLimit prunes to topK rows per doc map-side. The corpus
    * count joins in as a broadcast 1-row aggregate.
    */
  def keywordCandidates(
      df: DataFrame, idCol: String, textCol: String,
      topK: Int = 5, maxDocFrequencyFrac: Double = 0.5): DataFrame = {
    val tf = df
      .select(col(idCol).as("doc_id"),
        explode(expr(tokensSql(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // tf is already distinct per (doc, term) — df is a count, not a
    // count-distinct, so a window count over the term partition IS the
    // document frequency. This replaces the old agg+self-join (which
    // re-ran the tokenize+explode+agg subtree for each branch — no
    // ReusedExchange fired — and shuffled tf on term twice) with ONE
    // term-keyed shuffle of the aggregated tf frame; groups are
    // per-term, so partition-local sorts are tiny runs.
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(df.select(
        count(lit(1)).cast("long").as("n_docs"))))
      .filter(col("df") <= col("n_docs") * maxDocFrequencyFrac)
      .withColumn("kw_rank", row_number().over(w))
      .filter(col("kw_rank") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("kw_rank").cast("long").as("kw_rank"))
  }

  /** Float TF-IDF fold over [[keywordCandidates]]: score = tf · ln(N/df).
    * Spec-tested (float, engine-rounding-sensitive); the integer
    * candidate core is the oracle-gated part.
    */
  def tfidfKeywords(
      df: DataFrame, idCol: String, textCol: String,
      topK: Int = 5, maxDocFrequencyFrac: Double = 0.5): DataFrame = {
    val n = df.select(count(lit(1)).cast("double").as("n_docs"))
    keywordCandidates(df, idCol, textCol, topK, maxDocFrequencyFrac)
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
      .drop("n_docs")
  }

  /** CCNet-style keep-first segment dedup: across the WHOLE corpus, every
    * repeated segment keeps only its first occurrence (ordered by
    * (doc_id, pos) — a stable global order), and each document is rebuilt
    * from its surviving segments. Complements [[removeBoilerplate]]:
    * boilerplate removal deletes EVERY occurrence of corpus-frequent
    * segments; keep-first preserves exactly one copy of each distinct
    * segment, which is the CCNet paragraph-dedup semantics (the first
    * crawl of a syndicated article keeps the text, later copies lose it).
    * Intra-doc repeats dedup the same way. Docs whose every segment is a
    * later duplicate survive with `clean_text = ""`.
    *
    * Scale shape: one hash shuffle on the segment key for the
    * first-occurrence ranking (WindowGroupLimit cannot apply — every
    * occurrence row must come back out — but the sort is per-segment-group
    * over tiny groups), then the per-doc positional rebuild aggregation.
    * No corpus-wide window, no join: two shuffles total, both on
    * high-cardinality keys.
    */
  def keepFirstSegmentDedup(
      df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10): DataFrame = {
    val segs = df
      .select(col(idCol).as("doc_id"), expr(tokensSql(textCol)).as("toks"))
      .select(col("doc_id"),
        posexplode(expr(segmentsSql("toks", segTokens))).as(Seq("pos", "seg")))
    val w = Window.partitionBy(col("seg")).orderBy(col("doc_id"), col("pos"))
    segs
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("rn") === 1, struct(col("pos"), col("seg"))))),
            s => s.getField("seg"))).as("clean_text"),
        count(lit(1)).as("n_segments"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
  }

  /** Per-document 32-bit SimHash over the md5-prefix hashes
    * ([[hash32Sql]]) of the distinct [[tokensSql]] tokens: per-bit
    * majority vote of ±1 contributions ([[graft.plans.SimHash32Expr]]).
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.plans.TextExpressions.simhash32(col(textCol)).as("simhash"))

  /** 60-bit SimHash over distinct word-k-shingle hashes, one UDF per row
    * (60 bits = 15 md5 hex chars, so the value stays positive in an
    * int64 on every engine). Shingle-weighted simhash discriminates far
    * better than token-set simhash on template-heavy corpora: the band
    * join below stays near-linear instead of quadratic.
    */
  def simhash60Udf(shingleK: Int): UserDefinedFunction =
    udf { (text: String) =>
      val toks = text.trim.split("\\s+")
      val shingles =
        if (toks.length < shingleK) Array.empty[String]
        else toks.sliding(shingleK).map(_.mkString(" ")).toArray.distinct
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](60)
      shingles.foreach { s =>
        val d = md.digest(s.getBytes("UTF-8"))
        // first 15 hex chars = top 60 bits of the digest, big-endian
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
        h = h >>> 4 // keep 60 of the 64 bits (15 hex chars)
        var b = 0
        while (b < 60) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var sim = 0L
      var b = 0
      while (b < 60) { if (votes(b) > 0) sim |= (1L << b); b += 1 }
      sim
    }

  /** SimHash near-duplicate pairs: 60-bit shingle simhash, banded into 4
    * 15-bit key slices (docs within hamming distance d of each other agree
    * exactly on at least one slice whenever d < numBands), candidates from
    * the band equi-join, verified by popcount of the XOR. The classic
    * web-scale near-dup path where per-doc state must be O(1): one long
    * per document, versus MinHash's K-long signature.
    */
  def simhashDedupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, maxHamming: Int): DataFrame = {
    val sigs = df
      .select(col(idCol).as("doc_id"),
        simhash60Udf(shingleK)(col(textCol)).as("sh"))
      .localCheckpoint(true) // one sig pass feeds both join sides
    val bands = sigs.select(col("doc_id"), col("sh"),
      explode(expr(
        "transform(sequence(0, 3), b -> concat_ws('-', b, shiftright(sh, b * 15) & 32767))"))
        .as("band_key"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        expr("bit_count(x.sh ^ y.sh)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** PRE-token count, not merged-BPE count: a GPT-2-style PREtokenizer
    * regex (contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs) counts the units a BPE tokenizer would start from,
    * BEFORE any merge rules apply — an upper-bound-ish "how many tokens
    * will this cost" estimator when no real tokenizer is on the
    * classpath. Pure regex, so both engines count identically.
    */
  val PreTokenPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  def preTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(PreTokenPattern), lit(0))).cast("long")

  /** @deprecated naming: this counts GPT-2-style PRE-tokens, not merged
    * BPE tokens — use [[preTokenCount]]; kept as an alias for callers.
    */
  def bpeTokenCount(c: Column): Column = preTokenCount(c)

  /** Karp–Rabin rolling fingerprint of the canonical text (lowercased,
    * alphanumerics only): left fold h = (h*131 + code) mod 1e9+7 seeded
    * with the first char code; 0 for empty canonical text. Sequential
    * fold + bounded intermediates (< 2^37) keep it bit-identical in any
    * engine with the same fold order.
    */
  def rollingFingerprint(text: String): Long = {
    // String-level lowercase first (matches SQL lower()), THEN the ascii
    // filter — per-char toLowerCase diverges on one-to-many mappings
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(lowered.length)
    var i = 0
    while (i < lowered.length) {
      val c = lowered.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      i += 1
    }
    if (sb.length == 0) 0L
    else {
      var h = sb.charAt(0).toLong
      var j = 1
      while (j < sb.length) {
        h = (h * 131L + sb.charAt(j).toLong) % 1000000007L
        j += 1
      }
      h
    }
  }

  def rollingFingerprintUdf: UserDefinedFunction =
    udf(rollingFingerprint _)

  // -------------------------------------------------------- text analysis

  private def lexiconHitsSql(c: String, words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString(", ")
    s"size(filter(split(trim(lower($c)), '\\\\s+'), x -> x IN ($lst)))"
  }

  /** Same hits counter over an already-tokenized lowercase array column. */
  private def lexiconHitsFromToksSql(toksCol: String, words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString(", ")
    s"size(filter($toksCol, x -> x IN ($lst)))"
  }

  val enWords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is")
  val deWords: Seq[String] = Seq("der", "die", "das", "und", "ist", "von", "mit", "ein")
  val frWords: Seq[String] = Seq("le", "la", "les", "et", "est", "un", "une", "dans")
  val esWords: Seq[String] = Seq("el", "los", "las", "y", "es", "por", "un", "una")

  /** Language-ID by stopword-lexicon hits: per-language counts + argmax
    * with deterministic tie order en > de > fr > es.
    */
  def langIdFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      expr(s"split(trim(lower($textCol)), '\\\\s+')").as("ltoks"))
      .select(
        col(idCol),
        expr(lexiconHitsFromToksSql("ltoks", enWords)).cast("long").as("en_hits"),
        expr(lexiconHitsFromToksSql("ltoks", deWords)).cast("long").as("de_hits"),
        expr(lexiconHitsFromToksSql("ltoks", frWords)).cast("long").as("fr_hits"),
        expr(lexiconHitsFromToksSql("ltoks", esWords)).cast("long").as("es_hits"))
      .withColumn("pred_lang",
        when(col("en_hits") >= greatest(col("de_hits"), col("fr_hits"), col("es_hits")), "en")
          .when(col("de_hits") >= greatest(col("fr_hits"), col("es_hits")), "de")
          .when(col("fr_hits") >= col("es_hits"), "fr")
          .otherwise("es"))

  /** Scala-side language prediction with IDENTICAL semantics to the
    * [[langIdFeatures]] SQL argmax (lowercase whitespace tokens, lexicon
    * hit counts, tie order en > de > fr > es). This is what the crawl
    * parse stage stamps on every [[graft.schema.ParsedUrl]] (reference
    * per-page detection, …/parser/TikaCallable.java:167); q46 pins it to
    * the DuckDB oracle.
    */
  def predictLang(text: String): String = {
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    def hits(words: Seq[String]): Int = {
      val set = words.toSet
      toks.count(set.contains)
    }
    val (en, de, fr, es) =
      (hits(enWords), hits(deWords), hits(frWords), hits(esWords))
    if (en >= math.max(de, math.max(fr, es))) "en"
    else if (de >= math.max(fr, es)) "de"
    else if (fr >= es) "fr"
    else "es"
  }

  def predictLangUdf: UserDefinedFunction = udf(predictLang _)

  /** Quality features: char/token counts, mean token length, alpha and
    * stopword ratios — the usual pre-training quality gates. Ratios are
    * exact-integer divisions, so they are engine-portable bit-for-bit.
    */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nTokens = size(expr(tokensSql(textCol))).cast("long")
    val nChars = length(col(textCol)).cast("long")
    df.select(
      col(idCol),
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      (length(regexp_replace(col(textCol), "\\s", "")).cast("long") / nTokens)
        .as("mean_token_len"),
      (length(regexp_replace(col(textCol), "[^A-Za-z]", "")).cast("long") / nChars)
        .as("alpha_ratio"),
      (expr(lexiconHitsSql(textCol, enWords)).cast("long") / nTokens)
        .as("stopword_ratio"))
  }

  /** Composite training-corpus cleaning gate: quality thresholds →
    * language filter → exact dedup (first-id representative), the standard
    * pre-training pass, as ONE pipeline over ONE scan. All features come
    * from a single staged lowercase-token projection (referenced multiple
    * times so Catalyst doesn't inline it into each HOF — the interpreted
    * re-evaluation cliff), the filters run before the only shuffle (the
    * fingerprint groupBy), and everything upstream of that shuffle is a
    * projection — at 100 TB the cost is one scan + one exchange of the
    * surviving fraction.
    */
  def cleanCorpus(
      df: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 5, minAlphaRatio: Double = 0.5,
      lang: String = "en"): DataFrame = {
    val staged = df.select(
      col(idCol).as("doc_id"), col(textCol).as("text"),
      expr(s"split(trim(lower($textCol)), '\\\\s+')").as("ltoks"))
    val featured = staged
      .select(
        col("doc_id"), col("text"),
        size(col("ltoks")).cast("long").as("n_tokens"),
        (length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long") /
          length(col("text")).cast("long")).as("alpha_ratio"),
        expr(lexiconHitsFromToksSql("ltoks", enWords)).cast("long").as("en_hits"),
        expr(lexiconHitsFromToksSql("ltoks", deWords)).cast("long").as("de_hits"),
        expr(lexiconHitsFromToksSql("ltoks", frWords)).cast("long").as("fr_hits"),
        expr(lexiconHitsFromToksSql("ltoks", esWords)).cast("long").as("es_hits"))
      .withColumn("pred_lang",
        when(col("en_hits") >= greatest(col("de_hits"), col("fr_hits"), col("es_hits")), "en")
          .when(col("de_hits") >= greatest(col("fr_hits"), col("es_hits")), "de")
          .when(col("fr_hits") >= col("es_hits"), "fr")
          .otherwise("es"))
    featured
      .filter(col("n_tokens") >= minTokens &&
        col("alpha_ratio") >= minAlphaRatio &&
        col("pred_lang") === lang)
      .withColumn("fingerprint", md5(col("text")))
      .groupBy(col("fingerprint"))
      // identical text ⇒ identical n_tokens, so MIN is exact, not a choice
      .agg(
        min(col("doc_id")).as("doc_id"),
        min(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("cluster_size"))
  }

  /** Within-document repetition: fraction of repeated word bigrams,
    * 1 - distinct/total (the Gopher-style "repetitive document" quality
    * gate — template/boilerplate pages score high and get filtered before
    * training). Single staged token projection, no shuffle.
    */
  def repetitionFeatures(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), expr(tokensSql(textCol)).as("toks"))
      .select(col(idCol),
        greatest(size(col("toks")) - 1, lit(0)).cast("long").as("n_bigrams"),
        size(expr(shinglesFromToksSql("toks", 2))).cast("long")
          .as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(lit(1.0) -
            col("n_distinct").cast("double") /
              col("n_bigrams").cast("double")))

  /** Deterministic hash-stratified sampling — the corpus mixture-weighting
    * primitive ("keep 50% of English, 10% of everything else"): a row
    * survives iff hash32(id) mod 1e6 < rate(stratum)·1e6. md5-derived
    * hash ⇒ reproducible across runs AND engines (no RNG state, no seed
    * drift between retries of a failed partition — the property
    * rand()-based sampling loses on a cluster). Pure projection+filter:
    * no shuffle at any corpus size.
    */
  def sampleByHash(
      df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val rateCol = rates.foldLeft(lit(defaultRate): Column) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    // round(), not cast-truncate: rates that aren't exactly representable
    // in binary (0.3 * 1e6 = 299999.9999…) must land on the same integer
    // threshold here and in any oracle/other-engine re-run, or the two
    // disagree on one hash bucket. Both Spark and DuckDB round half away
    // from zero, so round(rate * 1e6) is the portable form.
    df.filter(
      expr(hash32Sql(s"cast($idCol as string)")) % 1000000 <
        round(rateCol * 1000000, 0).cast("long"))
  }

  /** Deterministic train/validation/test assignment: every row gets a
    * split label from its md5-hash ppm bucket against cumulative
    * fraction fences (fractions must sum to 1). Same engine-portable,
    * retry-safe hash gate as [[sampleByHash]], with one addition: the
    * hash input is salted (`id + ":split"`) so the split is INDEPENDENT
    * of the sampling gate — unsalted, `sampleByHash` survivors are
    * exactly the low hash buckets and would all land in the first
    * split. Pure projection: no shuffle at any corpus size.
    */
  def assignSplit(
      df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val bucket =
      expr(hash32Sql(s"concat(cast($idCol as string), ':split')")) % 1000000
    // fences rounded ONCE from the cumulative sums, so engines (and the
    // oracle) agree on every boundary bucket
    val fences = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c * 1000000))
    val pairs = splits.map(_._1).zip(fences)
    val splitExpr = pairs.dropRight(1)
      .foldLeft(Option.empty[Column]) {
        case (None, (name, fence)) => Some(when(bucket < fence, name))
        case (Some(acc), (name, fence)) => Some(acc.when(bucket < fence, name))
      }
      .map(_.otherwise(pairs.last._1))
      .getOrElse(lit(pairs.last._1))
    df.withColumn(splitCol, splitExpr)
  }

  /** Exactly-N-per-stratum deterministic sampling — the eval-set
    * construction primitive ("500 held-out docs per language", fixed
    * size regardless of stratum skew): rank rows inside each stratum by
    * salted md5 hash (id tie-break) and keep rank ≤ n. Hash order is a
    * uniform shuffle that every engine/retry reproduces; the rank
    * pre-trims map-side via WindowGroupLimit, so no task ever holds more
    * than n rows per stratum even though the window partitions by a
    * low-cardinality stratum column (the q52 bound).
    */
  def sampleFixedPerStratum(
      df: DataFrame, idCol: String, strataCol: String, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(expr(hash32Sql(s"concat(cast($idCol as string), ':fix')")).asc,
        col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w).cast("bigint"))
      .filter(col("sample_rank") <= n)
  }

  /** Token-budget packing per stratum: longest documents first
    * (deterministic id tie-break), keep while the stratum's cumulative
    * token count fits the budget — the "fill N tokens per language/
    * source" mixture-construction step.
    *
    * Scale shape: a running-sum window partitioned by stratum serializes
    * each stratum onto one task, and strata are languages/sources
    * (cardinality ~10-100) — at corpus scale that sorts everything
    * through a handful of tasks. But at most `budget` docs can ever
    * satisfy `cum_tokens <= budget` (every doc that consumes budget has
    * >= 1 token), so we first trim each stratum to its top-`budget` rows
    * by `(n_tokens DESC, id ASC)` — a rank filter Spark rewrites to
    * WindowGroupLimit, which prunes partially on the map side before the
    * shuffle — and only then run the running sum over that bounded set.
    * Value-identical for docs with >= 1 token; zero-token docs are
    * dropped up front on both engine and oracle side (they can never
    * consume budget, and packing them is meaningless).
    */
  def packTokenBudget(
      df: DataFrame, idCol: String, textCol: String, strataCol: String,
      budget: Long): DataFrame =
    df.select(col(idCol), col(strataCol).as("stratum"),
      size(expr(tokensSql(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 1)
      .withColumn("rn",
        row_number().over(
          Window.partitionBy(col("stratum"))
            .orderBy(col("n_tokens").desc, col(idCol).asc)))
      .filter(col("rn") <= budget)
      .drop("rn")
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(
          Window.partitionBy(col("stratum"))
            .orderBy(col("n_tokens").desc, col(idCol).asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= budget)

  /** Training-shard assignment + concat-then-chunk sequence packing — the
    * "write the training shards" pass at the end of a data pipeline. Each
    * document gets (shard, pos, seq_id): `shard` = md5-hash of the id mod
    * `numShards` (a deterministic global shuffle — reproducible across
    * runs, engines, and retried tasks, unlike rand()-ordering), `pos` =
    * the document's rank within its shard in hash order, and `seq_id` =
    * which fixed-`seqTokens` training sequence the document STARTS in when
    * the shard's documents are laid end-to-end in `pos` order (the
    * standard concat-then-chunk packing; a doc spanning a boundary belongs
    * to the sequence it starts in).
    *
    * Scale shape: one shuffle on `shard` and a per-shard ordered window —
    * per-task work is corpus/numShards, so `numShards` is the parallelism
    * dial (pick shards of ~100k docs; 100 TB at 1M-doc shards = 100k
    * tasks, each independent). Everything is integer arithmetic on
    * md5-derived hashes: hash-exact across engines.
    */
  def shardAndPack(
      df: DataFrame, idCol: String, textCol: String,
      numShards: Int, seqTokens: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("hkey"), col(idCol))
    df
      .select(col(idCol),
        size(expr(tokensSql(textCol))).cast("long").as("n_tokens"),
        expr(hash32Sql(s"cast($idCol as string)")).as("hkey"))
      .withColumn("shard", pmod(col("hkey"), lit(numShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("seq_id",
        floor((col("cum_tokens") - col("n_tokens")) / seqTokens))
      .select(col(idCol), col("shard"), col("pos"), col("seq_id"),
        col("n_tokens"))
  }

  /** Per-stratum token-distribution profile — doc count, total/mean token
    * counts, min/max, and exact discrete quantiles (p50/p95) — the summary
    * a mixture designer reads before setting [[sampleByHash]] rates and
    * [[packTokenBudget]] budgets.
    *
    * Quantiles are computed from the (stratum, n_tokens) HISTOGRAM, not
    * from per-doc rows: one map-side-combined groupBy collapses the corpus
    * to at most |strata| x max_doc_length rows, and the cumulative-count
    * window then sorts only that bounded set — so unlike an exact
    * `percentile` aggregate (whose per-group state is a value-count map
    * carried through the shuffle) the expensive pass over 100 TB is a
    * plain partial-aggregated count. `pNN_tokens` is the LOWER discrete
    * quantile: the smallest token count v such that >= NN% of the
    * stratum's docs have n_tokens <= v. The quantile comparisons are pure
    * integer arithmetic (`cum*20 >= n_docs*19` for p95), so results are
    * hash-exact across engines — no interpolation, no float drift; the
    * one double (mean) is a single IEEE division, identical everywhere.
    */
  def tokenStats(
      df: DataFrame, textCol: String, strataCol: String): DataFrame = {
    val hist = df
      .select(col(strataCol).as("stratum"),
        size(expr(tokensSql(textCol))).cast("long").as("n_tokens"))
      .groupBy("stratum", "n_tokens")
      .agg(count(lit(1)).as("n"))
    val cum = hist.withColumn("cum",
      sum(col("n")).over(
        Window.partitionBy("stratum").orderBy("n_tokens")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = hist.groupBy("stratum").agg(
      sum("n").as("n_docs"),
      sum(col("n") * col("n_tokens")).as("total_tokens"))
    cum.join(broadcast(totals), Seq("stratum"))
      .groupBy("stratum")
      .agg(
        max("n_docs").as("n_docs"),
        max("total_tokens").as("total_tokens"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"),
        min(when(col("cum") * 2 >= col("n_docs"), col("n_tokens")))
          .as("p50_tokens"),
        min(when(col("cum") * 20 >= col("n_docs") * 19, col("n_tokens")))
          .as("p95_tokens"))
      .withColumn("mean_tokens",
        col("total_tokens").cast("double") / col("n_docs"))
  }

  /** Per-stratum discrete-quantile length gate: drop each stratum's
    * shortest `pNum/pDen` fraction of documents (the "too short to train
    * on" filter, applied per language/source so a short-doc language
    * isn't wiped out by a global threshold). The threshold is the
    * stratum's exact discrete (pNum/pDen)-quantile of token counts,
    * computed the same way [[tokenStats]] computes p50/p95 — cumulative
    * counts over the token-count HISTOGRAM, all integer arithmetic, so
    * Spark and a SQL oracle agree hash-exactly. Kept docs satisfy
    * `n_tokens >= threshold(stratum)`.
    *
    * Scale shape: the histogram is a partial-aggregated groupBy over
    * (stratum, n_tokens) — cardinality ≤ strata × max-doc-tokens, NOT
    * corpus size — its cumulative window runs over that bounded set, and
    * the resulting per-stratum threshold table (one row per stratum) is
    * broadcast back. The corpus is scanned once, never sorted or
    * windowed.
    */
  def stratumLengthGate(
      df: DataFrame, idCol: String, textCol: String, strataCol: String,
      pNum: Int, pDen: Int): DataFrame = {
    require(pNum >= 0 && pNum < pDen, "need 0 <= pNum/pDen < 1")
    val toks = df.select(col(idCol), col(strataCol).as("stratum"),
      size(expr(tokensSql(textCol))).cast("long").as("n_tokens"))
    // smallest token count whose cumulative share reaches pNum/pDen —
    // the discrete quantile, same selector expression as the oracle
    val thresholds = quantileFences(toks, "n_tokens", "stratum",
        Seq(pNum), pDen)
      .withColumnRenamed("__f1", "min_keep_tokens")
    toks.join(broadcast(thresholds), Seq("stratum"))
      .filter(col("n_tokens") >= col("min_keep_tokens"))
      .select(col(idCol), col("stratum"), col("n_tokens"))
  }

  /** Per-stratum EXACT discrete-quantile fences over an integer score —
    * the shared histogram-quantile machinery behind
    * [[fixedPointBuckets]], [[stratumLengthGate]] and
    * [[Similarity.embeddingOutliers]] (no percentile_approx, no float
    * fences, no driver collect — the assignment is oracle-checkable
    * bit-for-bit on any engine). Fence i = the smallest score whose
    * per-stratum cumulative count reaches `numerators(i)/den`; output is
    * a STRATA-sized frame (strataCol, <prefix>1..<prefix>N) meant to be
    * broadcast back onto the data.
    *
    * Scale + plan discipline, enforced here ONCE for every consumer:
    * one hash aggregate to the (stratum × distinct score) histogram, then
    * BOTH the running sum and the per-stratum total ride the SAME
    * partition+order window spec (total = unbounded frame), so Catalyst
    * collapses them into ONE WindowExec over the histogram — one sort,
    * never two, and never a window over the corpus. A null stratum stays
    * its own group (a join-based total would silently drop it);
    * consumers joining fences back equi-join or `<=>` as their null
    * policy demands.
    */
  def quantileFences(
      df: DataFrame, scoreCol: String, strataCol: String,
      numerators: Seq[Int], den: Int,
      fencePrefix: String = "__f"): DataFrame = {
    require(numerators.nonEmpty && den >= 1, "need fences and den >= 1")
    val hist = df.groupBy(col(strataCol), col(scoreCol))
      .agg(count(lit(1)).as("__n"))
    val cum = hist.withColumn("__cum",
        sum(col("__n")).over(
          Window.partitionBy(strataCol).orderBy(scoreCol)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__nd",
        sum(col("__n")).over(
          Window.partitionBy(strataCol).orderBy(scoreCol)
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
    val fenceCols = numerators.zipWithIndex.map { case (num, i) =>
      min(when(col("__cum") * den >= col("__nd") * num, col(scoreCol)))
        .as(s"$fencePrefix${i + 1}")
    }
    cum.groupBy(col(strataCol)).agg(fenceCols.head, fenceCols.tail: _*)
  }

  /** Per-stratum tier assignment over an INTEGER (fixed-point) score:
    * split each stratum into `buckets` tiers at the discrete
    * cumulative-count quantiles of `fpCol` — the CCNet head/middle/tail
    * construction, made integer-exact so the whole assignment is
    * oracle-checkable bit-for-bit on any engine (no percentile_approx,
    * no float fences, no driver collect). Tier 0 = lowest scores; a doc
    * exactly ON a fence stays in the lower tier (ties never split).
    *
    * Scale shape: one hash aggregate to the (stratum × distinct score)
    * histogram — for fixed-point scores the scale knob bounds the
    * distinct values — a per-stratum running sum OVER THE HISTOGRAM
    * (never the corpus), a strata-sized fence table broadcast back, and
    * a projection. Same discipline as [[stratumLengthGate]].
    */
  def fixedPointBuckets(
      df: DataFrame, fpCol: String, strataCol: String,
      buckets: Int, bucketCol: String): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    // fence i = smallest score whose cumulative share reaches i/buckets —
    // the discrete quantile, same selector as the oracle; quantileFences
    // holds the one-WindowExec + null-stratum-group discipline
    val fences = quantileFences(df, fpCol, strataCol,
      (1 until buckets).toSeq, buckets)
    // null-safe fence join: groupBy keeps a null stratum as its own group,
    // but a plain equi-join would then silently DROP those rows (null never
    // equals null) — a quiet row loss for corpora with null lang/stratum.
    // `<=>` routes them to their own group's fences instead.
    df.join(broadcast(fences.withColumnRenamed(strataCol, "__stratum")),
        col(strataCol) <=> col("__stratum"))
      .withColumn(bucketCol,
        (1 until buckets)
          .map(i => when(col(fpCol) > col(s"__f$i"), 1L).otherwise(0L))
          .reduce(_ + _))
      .select(df.columns.map(col) :+ col(bucketCol): _*)
  }

  /** Deterministic hashed bag-of-tokens embedding: token counts scattered
    * into a fixed `dim`-wide dense vector by a stable 32-bit hash, then
    * L2-normalized — the sandbox stand-in for a neural text encoder
    * (the container has no model runtime), with the Spark-side contract
    * a real one would have: (doc_id, embedding float[dim]), one row per
    * doc with at least one token. Near-identical texts map to
    * near-identical vectors (cosine ≈ 1), which is exactly what the
    * ingest loop's semantic gate needs from its embedder seam.
    *
    * Engine-portable on purpose (md5-derived [[hash32Sql]], the
    * [[QualityClassifier.featurize]] hash): the construction is
    * oracle-checkable if ever SQL-gated. Scale shape: one explode + two
    * hash aggregates, all doc-scoped — no corpus-wide state.
    */
  def hashedEmbedding(
      df: DataFrame, idCol: String, textCol: String, dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    df
      .select(col(idCol).as("doc_id"),
        expr(tokensSql(s"lower($textCol)")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .select(col("doc_id"),
        pmod(expr(hash32Sql("tok")), lit(dim)).cast("int").as("feat"))
      .groupBy(col("doc_id"), col("feat"))
      .agg(count(lit(1)).cast("double").as("cnt"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("feat"), col("cnt"))))
        .as("__m"))
      .select(col("doc_id"),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "i -> coalesce(element_at(__m, cast(i as int)), " +
          "cast(0 as double)))").as("__raw"))
      .select(col("doc_id"),
        expr("transform(__raw, x -> cast(x / sqrt(aggregate(__raw, " +
          "cast(0 as double), (a, y) -> a + y * y)) as float))")
          .as("embedding"))
  }

  /** Domain/source-level quality gate: drop every stratum (source domain,
    * crawl snapshot, shard) whose aggregate statistics fail a floor —
    * here doc count and mean document length, the cheap proxies pipelines
    * apply before any per-document scoring (a domain of uniformly tiny
    * pages is a link farm; a source with three documents is noise). The
    * reference crawls per-PLD and scores per-domain (DomainScore, SURVEY
    * §2.3); this is the corpus-side twin of that domain-level judgment.
    *
    * The mean-length floor compares `stratum_tokens >= minMeanTokens *
    * stratum_docs` in integers — no division, so the gate evaluates
    * bit-identically on any engine. Output: surviving docs with their
    * stratum's stats attached (the audit columns a survival report wants).
    *
    * Scale shape: one partial-aggregated count to stratum cardinality
    * (domains ≪ docs), the verdict broadcast back onto the corpus — a
    * single corpus-side scan, no corpus shuffle at all.
    */
  def stratumGate(
      df: DataFrame, idCol: String, textCol: String, stratumCol: String,
      minDocs: Long, minMeanTokens: Long): DataFrame = {
    val t = df.select(col(idCol), col(stratumCol),
      size(expr(tokensSql(textCol))).cast("long").as("n_tokens"))
    val stats = t.groupBy(stratumCol)
      .agg(count(lit(1)).as("stratum_docs"),
        sum(col("n_tokens")).as("stratum_tokens"))
    val ok = stats.filter(col("stratum_docs") >= minDocs &&
      col("stratum_tokens") >= lit(minMeanTokens) * col("stratum_docs"))
    t.join(broadcast(ok), Seq(stratumCol))
      .select(col(idCol), col(stratumCol), col("n_tokens"),
        col("stratum_docs"), col("stratum_tokens"))
  }

  /** PII scrub for training corpora: emails, phone-ish digit runs, and
    * IPv4 literals replaced by stable tags — the standard pre-training
    * redaction pass. Pure regexp_replace chain (codegen), composing into
    * [[cleanCorpus]]-style single-scan pipelines. Order matters: emails
    * first (their digits must not be half-eaten by the phone pattern).
    *
    * The *patterns* are RE2-safe (no lookbehind/backrefs), but the call
    * shape is Spark-dialect: engines whose `regexp_replace` replaces only
    * the first match by default (DuckDB) need an explicit 'g' flag — see
    * the q53 oracle in TextQueries for the pinned DuckDB twin.
    */
  def scrubPiiSql(c: String): String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}"
    val ip = "\\\\b(?:[0-9]{1,3}\\\\.){3}[0-9]{1,3}\\\\b"
    val phone = "\\\\+?[0-9][0-9()\\\\-. ]{7,}[0-9]"
    s"""regexp_replace(regexp_replace(regexp_replace($c,
       | '$email', '<EMAIL>'),
       | '$ip', '<IP>'),
       | '$phone', '<PHONE>')""".stripMargin.replaceAll("\n", " ")
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * k-shingle with an evaluation/benchmark set — the standard "remove
    * test-set leakage before training" pass. Returns one row per
    * contaminated doc with its distinct-overlapping-shingle count (the
    * caller anti-joins to drop, or thresholds on `n_overlap`).
    *
    * Scale shape: the benchmark side is small by nature (eval sets are
    * thousands of docs, not billions), so its distinct shingles BROADCAST
    * — the corpus side is one scan + explode with no shuffle before the
    * per-doc count (partial agg combines map-side). For a benchmark too
    * large to broadcast, put [[BloomPrefilter]] in front: bloom the
    * benchmark shingles, prefilter the corpus explode, and let the
    * residual equi-join shuffle only survivors.
    */
  def decontaminate(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, k: Int = 8): DataFrame = {
    val benchShingles = benchmark
      .select(explode(shingleUdf(k)(col(benchTextCol))).as("shingle"))
      .distinct()
    docs
      .select(col(idCol), explode(shingleUdf(k)(col(textCol))).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Per-benchmark-item leakage report — the triage view of
    * [[decontaminate]]: for each eval item, how many corpus documents
    * share at least one word k-shingle with it (`n_docs`) and how many
    * distinct (doc, shingle) overlaps exist in total (`n_shingle_hits`).
    * Decontamination tells you which corpus docs to drop; this tells you
    * WHICH benchmark items are compromised and how badly — the number a
    * data card / eval-integrity review reports per task.
    *
    * Scale shape: identical to [[decontaminate]] — benchmark shingles
    * broadcast (eval sets are small by nature), corpus side is one scan +
    * explode, and the aggregation keys on the benchmark id (eval-set
    * cardinality, tiny).
    */
  def contaminationReport(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      k: Int = 8): DataFrame = {
    val benchShingles = benchmark
      .select(col(benchIdCol).as("bench_id"),
        explode(shingleUdf(k)(col(benchTextCol))).as("shingle"))
    docs
      // shingleUdf emits DISTINCT shingles per doc, so each (doc, shingle,
      // bench item) overlap counts exactly once
      .select(col(idCol).as("doc"),
        explode(shingleUdf(k)(col(textCol))).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"))
      .groupBy("bench_id")
      .agg(countDistinct(col("doc")).as("n_docs"),
        count(lit(1)).as("n_shingle_hits"))
  }

  /** Count-min sketch of the corpus term-occurrence stream: a fixed
    * `depth × width` grid of counters where every token occurrence
    * increments one counter per row (row j's bucket = the j-th member of
    * the same universal hash family the MinHash signatures use). The
    * sketch answers "how often does term t occur?" within +ε·N at
    * constant memory — the bounded-state frequency structure a 100 TB
    * stream needs where an exact (term, count) table is vocabulary-sized
    * and a hot-key risk. Deterministic hashing (md5-derived, no RNG)
    * makes the whole grid bit-exact across engines and retries, so the
    * sketch itself is oracle-checkable; counters are mergeable by
    * elementwise addition, so shards/streams combine without re-reading
    * text (the same property the partial aggregation exploits map-side).
    *
    * Scale shape: one projection (explode + hash) and ONE hash shuffle
    * whose key space is at most depth×width cells — the reduce side is
    * constant-size regardless of corpus. Returns (row, col, cnt), only
    * touched cells.
    */
  def countMinSketch(
      df: DataFrame, textCol: String,
      depth: Int = 4, width: Int = 64): DataFrame =
    df.select(explode(expr(tokensSql(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .select(expr(hash32Sql("term")).as("h"))
      .select(col("h"), explode(expr(s"sequence(0, ${depth - 1})")).as("j"))
      .select(col("j").cast("long").as("row"),
        expr(s"(((j * 2654435761 + 1) % 1000000007) * h + j * 97 + 13)" +
          s" % 1000000007 % $width").as("col"))
      .groupBy("row", "col").agg(count(lit(1)).as("cnt"))

  /** Point lookups against a [[countMinSketch]]: the estimate for each
    * term is the MINIMUM of its `depth` counters (collisions only ever
    * inflate, so est >= true count always, with equality when any row is
    * collision-free for that term). The sketch side is depth×width cells
    * — it broadcasts; the lookup is a projection plus one tiny join.
    */
  def cmsLookup(
      sketch: DataFrame, terms: DataFrame, termCol: String,
      depth: Int = 4, width: Int = 64): DataFrame =
    terms.select(col(termCol).as("term")).distinct()
      .select(col("term"), expr(hash32Sql("term")).as("h"))
      .select(col("term"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("j"), col("h"))
      .select(col("term"), col("j").cast("long").as("row"),
        expr(s"(((j * 2654435761 + 1) % 1000000007) * h + j * 97 + 13)" +
          s" % 1000000007 % $width").as("col"))
      .join(broadcast(sketch), Seq("row", "col"), "left")
      .groupBy("term")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** HyperLogLog-style distinct-cardinality registers over the corpus
    * vocabulary: each token occurrence hashes into one of `buckets`
    * registers, whose value is the max of rho = trailing-zero-count + 1
    * of the remaining hash bits — the geometric "rarity" observation HLL
    * estimates from. No pre-distinct is needed (max over occurrences =
    * max over distinct values), so the whole pass is one projection plus
    * one hash aggregation onto at most `buckets` cells, mergeable across
    * shards/streams by elementwise max — the bounded-memory form of
    * "how many distinct terms" at 100 TB, where exact count-distinct
    * (q42's vocabulary) shuffles the full term table. Deterministic
    * md5-derived hashing keeps the register table bit-exact across
    * engines: the registers are oracle-gated, the float estimate fold
    * ([[hllEstimate]]) is spec-tested (the q65/q67 split). The x = 0
    * hash remainder pins rho at 27 (26 usable bits + 1) identically on
    * both engines.
    */
  def hllRegisters(
      df: DataFrame, textCol: String, buckets: Int = 64): DataFrame =
    df.select(explode(expr(tokensSql(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .select(expr(hash32Sql("term")).as("h"))
      .select(expr(s"h % $buckets").cast("long").as("bucket"),
        expr(s"h div $buckets").as("x"))
      .select(col("bucket"),
        expr("case when x = 0 then 27 else " +
          "length(bin(x)) - length(rtrim('0', bin(x))) + 1 end")
          .cast("long").as("rho"))
      .groupBy("bucket").agg(max(col("rho")).as("register"))

  /** The HLL estimate over [[hllRegisters]] output: bias-corrected
    * harmonic mean with the standard linear-counting fallback for the
    * small range. Driver-side on a provably bounded set (≤ `buckets`
    * rows). Relative error ~ 1.04/√buckets; spec-tested against the
    * exact vocabulary count.
    */
  def hllEstimate(registers: DataFrame, buckets: Int = 64): Double = {
    val regs = registers.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = buckets.toDouble
    val untouched = buckets - regs.size
    val sum = (0 until buckets)
      .map(b => math.pow(2.0, -regs.getOrElse(b.toLong, 0L).toDouble)).sum
    val alpha = 0.7213 / (1 + 1.079 / m)
    val raw = alpha * m * m / sum
    if (raw <= 2.5 * m && untouched > 0) m * math.log(m / untouched)
    else raw
  }

  /** C4-style blocklist statistics: per document, total tokens and how
    * many are on the (lowercased, distinct) blocklist. C4 dropped any
    * page containing a banned word; real pipelines usually threshold on
    * count or ratio instead — this returns the integer stats so the
    * caller picks the policy ([[blocklistGate]] is the drop-on-any
    * default).
    *
    * Scale shape: blocklists are thousands of words — the list
    * broadcasts, the corpus side is one scan + explode straight into the
    * broadcast join (no pre-join shuffle), and the per-doc count is a
    * partial->final hash aggregate. Same contract as decontamination.
    */
  def blocklistHits(
      df: DataFrame, idCol: String, textCol: String,
      blocklist: DataFrame, wordCol: String): DataFrame = {
    val bl = broadcast(
      blocklist.select(lower(col(wordCol)).as("tok"), lit(1).as("bad"))
        .distinct())
    df.select(col(idCol).as("doc_id"),
        explode(expr(tokensSql(s"lower($textCol)"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .join(bl, Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(col("bad")), lit(0)).cast("long").as("n_flagged"))
  }

  /** Drop every document with more than `maxHits` blocklisted tokens
    * (default 0 = the strict C4 policy). Anti-join on the flagged id set,
    * whose size is bounded by the flagged rate.
    */
  def blocklistGate(
      df: DataFrame, idCol: String, textCol: String,
      blocklist: DataFrame, wordCol: String, maxHits: Long = 0): DataFrame =
    df.join(
      blocklistHits(df, idCol, textCol, blocklist, wordCol)
        .filter(col("n_flagged") > maxHits)
        .select(col("doc_id").as("__flagged_id")),
      df(idCol) === col("__flagged_id"), "left_anti")

  /** Exact duplicated-substring detection, the distributed shape of the
    * suffix-array dedup in Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (2022): every w-token window is hashed
    * (md5 of the space-joined window — engine-portable), and a window is
    * duplicated when the SAME hash occurs >= minCount times anywhere in
    * the corpus (across or within docs). Returns (doc_id, pos, whash) for
    * every duplicated window occurrence.
    *
    * Scale shape: explode is linear in token count (one row per window),
    * the frequency pass is one groupBy(whash) with map-side partial agg,
    * and the join back is co-partitioned on whash — no sort, no window
    * over the corpus, no suffix array. At 100 TB the duplicated-hash set
    * is the small side in practice; Catalyst/AQE can broadcast it when
    * stats allow.
    */
  def duplicatedWindows(
      df: DataFrame, idCol: String, textCol: String,
      w: Int, minCount: Int = 2): DataFrame = {
    val h = df
      .select(col(idCol).as("doc_id"), expr(tokensSql(textCol)).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        expr(s"explode(sequence(0, size(toks) - $w))").as("pos"),
        col("toks"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(concat_ws(" ", expr(s"slice(toks, pos + 1, $w)"))).as("whash"))
    // one shuffle on whash and a per-group count via window, instead of
    // agg + self-join (which re-computed the tokenize+md5 window pass for
    // each branch — no ReusedExchange fired — and shuffled it twice).
    // Groups are per-window-hash, so partitions sort tiny runs; the row
    // set out is identical (every occurrence of a ≥minCount hash).
    h.withColumn("__cnt",
        count(lit(1)).over(Window.partitionBy(col("whash"))))
      .filter(col("__cnt") >= minCount)
      .select(col("doc_id"), col("pos"), col("whash"))
  }

  /** Remove every token covered by a duplicated window ([[duplicatedWindows]]):
    * covered token indices are exploded per duplicated window (w rows
    * each, bounded), dedup'd, set-collected per doc (bounded by doc
    * length), and the original token array is filtered by index — overlap
    * merging falls out of the set union, no interval logic. Docs with no
    * duplicated window pass through unchanged (left join).
    */
  def removeDuplicatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      w: Int, minCount: Int = 2): DataFrame = {
    val covered = duplicatedWindows(df, idCol, textCol, w, minCount)
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${w - 1})")).as("ti"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(collect_set(col("ti")).as("cov"))
    df.select(col(idCol).as("doc_id"), expr(tokensSql(textCol)).as("toks"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", expr(
          "filter(toks, (x, i) -> NOT array_contains(" +
            "coalesce(cov, array()), cast(i as bigint)))")).as("clean_text"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed_tokens"),
        size(col("toks")).cast("long").as("n_tokens"))
  }

  /** Per-key top-K by a score column with total-order tie-break. */
  def topKPerKey(df: DataFrame, key: String, score: Column, tieBreak: Column,
      k: Int): DataFrame =
    df.withColumn("rn",
      row_number().over(Window.partitionBy(col(key))
        .orderBy(score.desc, tieBreak.asc)))
      .filter(col("rn") <= k)

  /** DSIR-style importance scores (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): rank raw
    * documents by how target-like their hashed-token distribution is.
    * Token occurrences hash into `buckets` cells; the target set and the
    * raw corpus each yield a bucket histogram; each bucket gets an
    * add-one-smoothed likelihood ratio in fixed point
    * (`ratio = (p_b+1)*scale div (q_b+1)`), and a document's score is the
    * count-weighted sum of its buckets' ratios — the fixed-point analogue
    * of DSIR's sum of log-ratios (monotone per bucket, integer-exact, so
    * the whole score column oracle-hashes; the float log-sum variant
    * belongs to the spec tier, the q65/q67 split). Selection on top of
    * the score is policy: [[topKPerKey]] / [[sampleFixedPerStratum]] for
    * fixed budgets, or a threshold filter.
    *
    * Scale shape: both histograms are at most `buckets` rows — each is
    * ONE partial->final hash aggregate that collapses map-side to
    * `buckets` cells, and the ratio table broadcasts. Scoring is one
    * explode + broadcast join + per-doc hash aggregate: corpus-linear,
    * a single doc-keyed shuffle, nothing vocabulary-sized anywhere
    * (the hashing trick is exactly what makes DSIR run at web scale).
    */
  def dsirScores(
      raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      buckets: Int = 128, scale: Long = 1000000L): DataFrame = {
    def bucketCounts(df: DataFrame, c: String) =
      df.select(explode(expr(tokensSql(c))).as("tok"))
        .filter(length(col("tok")) > 0)
        .select((expr(hash32Sql("tok")) % buckets).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    // ONE tokenize pass over the corpus serves both the q-side histogram
    // and the per-doc scoring (it previously ran twice — tokenize+hash is
    // the dominant cost). Aggregated to (doc, bucket) first, the scoring
    // join's probe side shrinks from n_tokens rows to ≤ docs × buckets,
    // and Σ_tokens ratio ≡ Σ_buckets cnt·ratio exactly (integer sums
    // reorder losslessly). The checkpoint is ≤ docs × buckets rows.
    val docBuckets = raw.select(col(idCol).as("doc_id"),
        explode(expr(tokensSql(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), (expr(hash32Sql("tok")) % buckets).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val p = bucketCounts(target, targetTextCol)
      .withColumnRenamed("cnt", "p_cnt")
    val q = docBuckets.groupBy("bucket").agg(sum("cnt").as("q_cnt"))
    // full outer on <= buckets rows: a bucket unseen in either side still
    // gets its smoothed ratio
    val ratios = broadcast(
      q.join(p, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          expr(s"((coalesce(p_cnt, 0) + 1) * $scale)" +
            " div (coalesce(q_cnt, 0) + 1)").as("ratio")))
    docBuckets
      .join(ratios, Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("ratio") * col("cnt")).as("dsir_score"))
  }

  /** The literal DSIR estimator: per-doc Σ count_b · ln((p_b+1)/(q_b+1))
    * — the paper's sum of hashed-ngram log-likelihood ratios. Float fold
    * ⇒ spec tier (sum order is partition-dependent in the last ulp; the
    * oracle-hashed column is [[dsirScores]]), same plan shape as the
    * fixed-point variant.
    */
  def dsirLogScores(
      raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      buckets: Int = 128): DataFrame = {
    def bucketCounts(df: DataFrame, c: String) =
      df.select(explode(expr(tokensSql(c))).as("tok"))
        .filter(length(col("tok")) > 0)
        .select((expr(hash32Sql("tok")) % buckets).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val p = bucketCounts(target, targetTextCol)
      .withColumnRenamed("cnt", "p_cnt")
    val q = bucketCounts(raw, textCol).withColumnRenamed("cnt", "q_cnt")
    val ratios = broadcast(
      q.join(p, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          log(expr("(coalesce(p_cnt, 0) + 1)" +
              " / cast(coalesce(q_cnt, 0) + 1 as double)")).as("log_ratio")))
    raw.select(col(idCol).as("doc_id"),
        explode(expr(tokensSql(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), (expr(hash32Sql("tok")) % buckets).as("bucket"))
      .join(ratios, Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("log_ratio")).as("dsir_log_score"))
  }

  /** Gopher-style within-document repetition signals (Rae et al. 2021,
    * "Scaling Language Models" §A1.1: repetitious documents are
    * low-quality — machine-generated spam and scraper echo): per doc,
    * the mass fraction of the single most frequent bigram
    * (`top_bigram_pct`) and the occurrence fraction of `w`-token windows
    * whose text repeats WITHIN the document (`dup_window_pct`). Both are
    * integer fixed-point, so the frame oracle-hashes; the cross-document
    * complements are [[duplicatedWindows]] (corpus-wide spans) and
    * [[repetitionFeatures]] (distinct-bigram ratio).
    *
    * Scale shape: one projection, one row per input row
    * ([[graft.plans.GopherRepetitionExpr]]) — the grams are scoped per
    * document, so counting them never needs a shuffle.
    */
  def gopherRepetition(
      df: DataFrame, idCol: String, textCol: String, w: Int = 5): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.plans.TextExpressions.gopher_repetition(col(textCol), w).as("rep"))
      .select(col("doc_id"), col("rep.*"))

  /** Cross-source duplication matrix — the corpus-composition audit
    * ("how much of source A is already in source B?" — the number that
    * decides whether a new crawl/source is worth ingesting): for every
    * source pair, the count of distinct fingerprints present in both.
    * The fingerprint column is caller-chosen — exact md5 of the text
    * (the q18 key) for strict duplication, [[canonicalFingerprintSql]]
    * for formatting-insensitive, or a truncated/lead-in fingerprint for
    * a looser shared-content probe.
    *
    * Scale shape: the distinct (fingerprint, source) projection is one
    * shuffle; the self-join is co-partitioned on fingerprint with
    * per-key fan-out bounded by the source count (≤ sources² pairs per
    * fingerprint, sources ~ tens); output is at most sources² rows.
    */
  def sourceOverlapMatrix(
      df: DataFrame, fingerprint: Column, sourceCol: String): DataFrame = {
    def fp(as: String) = df.select(fingerprint.as("fingerprint"),
      col(sourceCol).as(as)).distinct()
    fp("source_a").join(fp("source_b"), Seq("fingerprint"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Choose LSH banding (bands b, rows-per-band r with b·r = numHashes)
    * for a target Jaccard threshold: the S-curve's inflection sits at
    * t ≈ (1/b)^(1/r) (Leskovec/Rajaraman/Ullman, MMDS §3.4.3); pick the
    * divisor pair whose inflection lands closest to the requested
    * threshold (ties → more bands = recall-leaning). Driver-side pure
    * arithmetic over the divisors of numHashes — feeds bandSize/numBands
    * choices for [[minhashCandidates]] instead of hand-tuning.
    */
  def lshBandPlan(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes > 0 && threshold > 0 && threshold < 1,
      "need numHashes > 0 and threshold in (0,1)")
    val pairs = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    pairs.minBy { case (b, r) =>
      (math.abs(threshold - math.pow(1.0 / b, 1.0 / r)), -b)
    }
  }

  /** Per-document n-gram novelty: of a document's distinct k-shingles,
    * how many occur in NO other document (corpus document-frequency 1)?
    * High novelty = content the corpus hasn't seen — the inverse signal
    * of the duplication family, useful both as a quality feature (near-
    * boilerplate pages score ~0) and as a cheap "what did this crawl
    * batch actually add?" audit. `novelty_pct` is integer fixed-point
    * (`100*unique div shingles`) so the column oracle-hashes.
    *
    * Scale shape: same skeleton as [[decontaminate]] — one explode, one
    * shingle-keyed doc-frequency aggregate (partial agg collapses
    * per-doc duplicates map-side), one co-partitioned join back, one
    * doc-keyed count. All joins equi, nothing quadratic; the df table is
    * vocabulary-of-shingles-sized but never collected.
    */
  def noveltyScores(
      df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    // (doc, shingle) rows are DISTINCT per doc by construction
    // (shingleUdf dedups), so count per shingle IS document frequency and
    // a df==1 shingle's unique owner is its min(doc_id). That turns the
    // old shingle-keyed join of the exploded corpus against its own
    // docFreq (two corpus-sized shuffles + a wide join) into two hash
    // aggregates and one doc-keyed join of two doc-sized frames: the
    // corpus shuffles on the shingle key exactly once. Checkpoint so the
    // shingle UDF pass runs once, not once per consuming branch.
    val sh = df.select(col(idCol).as("doc_id"),
        explode(shingleUdf(k)(col(textCol))).as("shingle"))
      .localCheckpoint(true)
    val uniq = sh.groupBy("shingle")
      .agg(count(lit(1)).as("df"), min("doc_id").as("owner"))
      .filter(col("df") === 1)
      .groupBy("owner").agg(count(lit(1)).as("n_unique"))
      .select(col("owner").as("doc_id"), col("n_unique"))
    sh.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_shingles"))
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        expr("(100 * n_unique) div greatest(n_shingles, 1)")
          .as("novelty_pct"))
  }
}
