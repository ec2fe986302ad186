package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{NgramLm, TrainingCorpus}

class TrainingCorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("end-to-end build: every gate fires on its planted victim, audit tracks each stage") {
    val bench = "question answer pairs for the benchmark evaluation suite items"
    val docs = Seq(
      // 1, 2: clean English — must survive everything
      (1L, "web", "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "web", "a careful study of the historical documents reveals patterns the researchers describe"),
      // 3: French — language gate
      (3L, "web", "le chat et le chien sont dans la maison avec le garcon ce soir"),
      // 4: English but degenerate repetition — repetition gate
      (4L, "web", "the cat the cat the cat the cat the cat the cat"),
      // 5: near-duplicate of 1 — dedup keeps the cluster minimum (1)
      (5L, "web", "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      // 6: contains a full benchmark sentence — decontamination
      (6L, "web", s"some filler text comes first and then $bench")
    ).toDF("doc_id", "stratum", "text")

    val result = TrainingCorpus.build(
      docs, "doc_id", "text", "stratum",
      benchmark = Some(Seq(bench).toDF("text")), benchTextCol = "text",
      referenceLm = None)

    val survivors = result.corpus.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L),
      s"got $survivors; audit=${result.audit}")

    val audit = result.audit.toMap
    assert(audit("input") == 6L)
    assert(audit("quality_lang_repetition") == 5L, s"${result.audit}") // -doc3
    assert(audit("repetition_gate") == 4L, s"${result.audit}")         // -doc4
    assert(audit("boilerplate_removal") == 4L, s"${result.audit}")
    assert(audit("dedup") == 3L, s"${result.audit}")                   // -doc5
    assert(audit("decontamination") == 2L, s"${result.audit}")         // -doc6
    // counts never increase through the pipeline
    val seq = result.audit.map(_._2)
    assert(seq.zip(seq.tail).forall { case (a, b) => b <= a }, s"$seq")
  }

  test("gopher ceilings drop window-repeaters the distinct-bigram ratio passes") {
    // doc 2 repeats a 5-token window ("a b c d e" at pos 0 and 10) while
    // keeping enough distinct bigrams to clear maxRepRatio — only the
    // optional dup-window ceiling catches it
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog near the bank"),
      (2L, "web", "aa bb cc dd ee ff gg hh ii jj aa bb cc dd ee")
    ).toDF("doc_id", "stratum", "text")
    def survivors(cfg: TrainingCorpus.Config) = TrainingCorpus.build(
      docs, "doc_id", "text", "stratum", None, "text", None,
      cfg.copy(lang = "en", minAlphaRatio = 0.0, minTokens = 1,
        boilerplateMinDf = 99)).corpus
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // lang note: doc 2's nonsense tokens hit no lexicon; predictLang
    // falls back to en, so both docs reach the repetition stage
    assert(survivors(TrainingCorpus.Config()) == Set(1L, 2L))
    assert(survivors(TrainingCorpus.Config(maxDupWindowPct = Some(10)))
      == Set(1L))
  }

  test("durable workDir: committed stages are read, not recomputed; deleting one resumes there") {
    import org.apache.spark.sql.functions.{col, lit}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "a careful study of the historical documents reveals clear patterns"),
      (3L, "the quick brown fox jumps over the lazy dog near the river banks")
      // ^ near-dup of 1 -> dedup keeps 1
    ).toDF("doc_id", "text").withColumn("stratum", lit("web"))
    val work = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    def run(d: org.apache.spark.sql.DataFrame) = TrainingCorpus.build(
      d, "doc_id", "text", "stratum", None, "text", None,
      TrainingCorpus.Config(minAlphaRatio = 0.0, boilerplateMinDf = 99),
      workDir = Some(work))
    val r1 = run(docs)
    assert(r1.cachedStages.isEmpty)
    val ids1 = r1.corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == Set(1L, 2L), s"$ids1 / ${r1.audit}")
    assert(r1.dedupRounds >= 1)

    // run 2 over an EMPTY input: every stage is committed, so the output
    // must still be run 1's — proof the stages were read, not recomputed
    val r2 = run(docs.filter(col("doc_id") < 0))
    assert(r2.cachedStages.toSet ==
      Set("quality_lang_repetition", "repetition_gate",
        "boilerplate_removal", "dedup"), r2.cachedStages.toString)
    assert(r2.corpus.select("doc_id").collect().map(_.getLong(0)).toSet
      == ids1)
    assert(r2.dedupRounds == 0) // clustering never ran
    assert(r2.plans.isEmpty && r2.timings.isEmpty)

    // delete the dedup stage dir: the rebuild reuses everything before it
    // and recomputes only dedup (real input again)
    val dedupDir = new java.io.File(work).listFiles()
      .filter(_.getName.endsWith("_dedup")).head
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(dedupDir)
    val r3 = run(docs)
    assert(r3.cachedStages.toSet ==
      Set("quality_lang_repetition", "repetition_gate",
        "boilerplate_removal"), r3.cachedStages.toString)
    assert(r3.plans.map(_._1) == Seq("dedup"))
    assert(r3.dedupRounds >= 1) // clustering ran again
    assert(r3.corpus.select("doc_id").collect().map(_.getLong(0)).toSet
      == ids1)
  }

  test("sf0.1 capstone: full-stage build pins survival counts, CC rounds, flat plans") {
    // the sf1 capstone configuration (PERF_NOTES "TrainingCorpus.build
    // end-to-end at sf1") run at sf0.1: every stage enabled,
    // benchmark + reference LM derived from the corpus by hash-slice.
    // One deliberate difference: a FIXED 32.0 perplexity cut (the bench
    // derives p90 at runtime) so the run is deterministic end to end
    // (hash gates, exact counts, min-id CC) and the per-stage survivor
    // counts are pinnable constants — a drift here means a stage's
    // semantics changed, not noise.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val benchmark = docs.filter(abs(xxhash64(col("doc_id"))) % 100 === 0)
      .select(col("text"))
    val lmSlice = docs.filter(abs(xxhash64(col("doc_id"))) % 100 between(1, 10))
    val lm = NgramLm.fit(lmSlice, "text")
    val result = TrainingCorpus.build(
      docs, "doc_id", "text", "source",
      benchmark = Some(benchmark), benchTextCol = "text",
      referenceLm = Some(lm),
      cfg = TrainingCorpus.Config(
        boilerplateMinDfFraction = Some(0.04),
        keepFirstSegTokens = Some(5),
        maxPerplexity = Some(32.0),
        mixtureWeights = (0 until 20).map(i => s"src$i" -> 0.05).toMap,
        budgetTokens = 150000L,
        splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))
    // note the keep-first/dedup interplay: segment keep-first excises the
    // shared passages FIRST (101 docs shrink to empty and drop), so the
    // doc-level near-dup stage then finds almost nothing left to drop —
    // the two dedup layers divide the same duplication, they don't stack
    // (without keep-first this config deduped 4755 from 5000)
    assert(result.audit == Seq(
      "input" -> 5000L,
      "quality_lang_repetition" -> 5000L,
      "repetition_gate" -> 5000L,
      "boilerplate_removal" -> 5000L,
      "segment_keep_first" -> 4899L,
      "dedup" -> 4896L,
      "decontamination" -> 4853L,
      "perplexity_gate" -> 4594L,
      "mixture_sample" -> 2737L), s"audit drifted: ${result.audit}")
    // LSH candidate graph stays clique-shaped: bounded label-propagation
    // rounds regardless of corpus size
    assert(result.dedupRounds <= 3, s"cc rounds = ${result.dedupRounds}")
    // no stage may inherit a GLOBAL window or a cartesian product — the
    // two plan shapes that do not survive a 100x scale-up. (The earlier
    // scan greped "WindowExec", which plan strings never contain — plans
    // print "Window"; PlanChecks detects the empty-partition form.)
    val violations = result.plans.flatMap { case (name, plan) =>
      graft.plans.PlanChecks.scaleViolations(plan).map(v => s"$name:$v")
    }
    assert(violations.isEmpty, violations.mkString(", "))
    // split labeling covers every survivor
    val n = result.corpus.count()
    assert(n == result.audit.last._2)
  }

  test("split stage labels every survivor without dropping rows") {
    val docs = (1L to 40L).map(i =>
      (i, "web", s"document number $i with the common english words the and of"))
      .toDF("doc_id", "stratum", "text")
    val result = TrainingCorpus.build(
      docs, "doc_id", "text", "stratum",
      benchmark = None, benchTextCol = "text", referenceLm = None,
      cfg = TrainingCorpus.Config(
        dedupThreshold = 1.1, // templated docs: keep them all
        splits = Seq("train" -> 0.8, "val" -> 0.2)))
    val rows = result.corpus.select("doc_id", "split").collect()
    val preSplit = result.audit.last._2
    assert(rows.length.toLong == preSplit, result.audit)
    val labels = rows.map(_.getString(1)).toSet
    assert(labels.subsetOf(Set("train", "val")) && labels.contains("train"),
      labels)
  }

  test("keep-first segment stage rewrites repeats and feeds dedup downstream") {
    // docs 1 and 2 share an opening passage; keep-first leaves it only in
    // doc 1 (lower doc_id), so doc 2 shrinks to its unique tail — and the
    // stage lands in the audit between boilerplate and dedup
    val shared = "the committee approved the annual budget for the coming year"
    val docs = Seq(
      (1L, "web", s"$shared and thanked the retiring treasurer for the service"),
      (2L, "web", s"$shared while the members debated the proposed building works"),
      (3L, "web", "a completely separate report covered the harvest festival plans")
    ).toDF("doc_id", "stratum", "text")
    val result = TrainingCorpus.build(
      docs, "doc_id", "text", "stratum",
      benchmark = None, benchTextCol = "text", referenceLm = None,
      cfg = TrainingCorpus.Config(
        dedupThreshold = 1.1, // isolate the segment stage from doc dedup
        keepFirstSegTokens = Some(2)))
    val names = result.audit.map(_._1)
    assert(names.indexOf("segment_keep_first") > names.indexOf("boilerplate_removal"),
      names.toString)
    assert(names.indexOf("segment_keep_first") < names.indexOf("dedup"),
      names.toString)
    val texts = result.corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(1L).contains("committee approved"), texts.toString)
    assert(!texts(2L).contains("committee approved"), texts.toString)
    assert(texts(2L).contains("building works"), texts.toString)
    assert(texts(3L).contains("harvest festival"), texts.toString)
  }

  test("blocklist stage drops banned-word docs before the heavy stages") {
    val docs = Seq(
      (1L, "web", "a perfectly ordinary document about the weather today"),
      (2L, "web", "this document mentions the gambling site rather often"),
      (3L, "web", "another clean document that should survive the gate")
    ).toDF("doc_id", "stratum", "text")
    val result = TrainingCorpus.build(
      docs, "doc_id", "text", "stratum",
      benchmark = None, benchTextCol = "text", referenceLm = None,
      cfg = TrainingCorpus.Config(dedupThreshold = 1.1),
      blocklist = Some((Seq("gambling").toDF("word"), "word")))
    val survivors = result.corpus.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 3L), s"$survivors; ${result.audit}")
    val names = result.audit.map(_._1)
    assert(names.indexOf("blocklist_gate") > names.indexOf("quality_lang_repetition"),
      names.toString)
    assert(names.indexOf("blocklist_gate") < names.indexOf("repetition_gate"),
      names.toString)
  }

  test("export round-trip: build -> shard -> split/shard-partitioned parquet") {
    import graft.operators.TextOps
    import graft.sinks.Sinks
    val docs = (1L to 60L).map(i =>
      (i, "web", s"document number $i holds several common english words"))
      .toDF("doc_id", "stratum", "text")
    val result = TrainingCorpus.build(
      docs, "doc_id", "text", "stratum",
      benchmark = None, benchTextCol = "text", referenceLm = None,
      cfg = TrainingCorpus.Config(
        dedupThreshold = 1.1, // templated docs: keep all
        splits = Seq("train" -> 0.8, "val" -> 0.2)))
    val sharded = result.corpus.join(
      TextOps.shardAndPack(result.corpus, "doc_id", "text",
        numShards = 4, seqTokens = 16).select("doc_id", "shard"),
      Seq("doc_id"))
    val out = java.nio.file.Files
      .createTempDirectory("graft-export").toString
    try {
      Sinks.writeTrainingSplits(sharded, out)
      // layout: split=<s>/shard=<k> directories — the partition index
      val splitDirs = new java.io.File(out).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(splitDirs.exists(_.startsWith("split=")), splitDirs.toString)
      // reading ONE split path prunes to that split (no filter needed)
      val train = spark.read.parquet(s"$out/split=train")
      assert(train.count() ==
        result.corpus.filter($"split" === "train").count())
      assert(train.columns.contains("shard")) // partition col surfaces
      // whole-corpus round-trip: every doc_id survives exactly once
      val back = spark.read.parquet(out)
      assert(back.count() == result.corpus.count())
      assert(back.select("doc_id").distinct().count() == back.count())
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(out))
    }
  }

  test("perplexity gate drops shuffled text when a reference LM is supplied") {
    val reference = Seq(
      "the cat sat on the mat near the door",
      "the dog sat on the rug near the wall").toDF("text")
    val model = NgramLm.fit(reference, "text")
    val docs = Seq(
      (1L, "web", "the cat sat on the rug near the door"),
      (2L, "web", "rug the on sat cat the near door the")
    ).toDF("doc_id", "stratum", "text")
    // threshold between the two scores: in-order text scores low,
    // shuffled scores high (NgramLmSpec pins the ordering)
    val ppl = NgramLm.perplexity(docs, "text", "p", model)
      .select("doc_id", "p").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cut = (ppl(1L) + ppl(2L)) / 2
    val result = TrainingCorpus.build(
      docs, "doc_id", "text", "stratum",
      benchmark = None, benchTextCol = "text",
      referenceLm = Some(model),
      cfg = TrainingCorpus.Config(maxPerplexity = Some(cut)))
    val survivors = result.corpus.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(survivors == Set(1L), s"got $survivors; audit=${result.audit}")
  }

  test("workDir manifest: changed config or inputId refuses to resume") {
    import org.apache.spark.sql.functions.lit
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "a careful study of the historical documents reveals clear patterns")
    ).toDF("doc_id", "text").withColumn("stratum", lit("web"))
    val work = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val base = TrainingCorpus.Config(minAlphaRatio = 0.0, boilerplateMinDf = 99)
    def run(cfg: TrainingCorpus.Config, id: String = "") = TrainingCorpus.build(
      docs, "doc_id", "text", "stratum", None, "text", None, cfg,
      workDir = Some(work), inputId = id)
    run(base)
    // a parameter change against the same workDir must throw, not serve
    // stage outputs computed under the old config
    intercept[IllegalStateException](run(base.copy(dedupThreshold = 0.8)))
    intercept[IllegalStateException](run(base, id = "snapshot-2"))
    // unchanged parameters still resume from the committed stages
    assert(run(base).cachedStages.nonEmpty)
  }

  test("mid-build crash: resume from the durable prefix yields the identical corpus") {
    import org.apache.spark.sql.functions.lit
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "a careful study of the historical documents reveals clear patterns"),
      (3L, "the quick brown fox jumps over the lazy dog near the river banks")
    ).toDF("doc_id", "text").withColumn("stratum", lit("web"))
    val cfg = TrainingCorpus.Config(minAlphaRatio = 0.0, boilerplateMinDf = 99)
    // a wordlist whose evaluation THROWS while armed: the build dies
    // inside the blocklist stage thunk — a real mid-build failure, not a
    // simulated directory deletion
    val wordlist = spark.range(1).map { _ =>
      if (CorpusPoison.armed)
        throw new RuntimeException("injected stage failure")
      "zzzznothing"
    }.toDF("word")
    val work = java.nio.file.Files.createTempDirectory("graft-crash").toString
    def run(dir: String) = TrainingCorpus.build(
      docs, "doc_id", "text", "stratum", None, "text", None, cfg,
      blocklist = Some((wordlist, "word")), workDir = Some(dir))

    CorpusPoison.armed = true
    intercept[Throwable](run(work))
    CorpusPoison.armed = false
    // the crash left stage 00 durable and committed (_SUCCESS)
    val stage0 = new java.io.File(work).listFiles()
      .find(_.getName.endsWith("_quality_lang_repetition"))
    assert(stage0.exists(f => new java.io.File(f, "_SUCCESS").exists()),
      new java.io.File(work).listFiles().map(_.getName).mkString(","))

    val resumed = run(work)
    assert(resumed.cachedStages == Seq("quality_lang_repetition"),
      resumed.cachedStages.toString)
    val fresh = run(
      java.nio.file.Files.createTempDirectory("graft-crash-fresh").toString)
    def ids(r: TrainingCorpus.Result) =
      r.corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(resumed) == ids(fresh), s"${ids(resumed)} vs ${ids(fresh)}")
    assert(ids(resumed) == Set(1L, 2L))
    assert(resumed.audit.map(_._1) == fresh.audit.map(_._1))
    assert(resumed.audit.toMap == fresh.audit.toMap,
      s"${resumed.audit} vs ${fresh.audit}")
  }
}

/** JVM-global failure injector for the mid-build crash spec (closures
  * capture copies of test fields; a global is shared with local-mode
  * executor threads — the FetchLog pattern).
  */
object CorpusPoison { @volatile var armed = false }
