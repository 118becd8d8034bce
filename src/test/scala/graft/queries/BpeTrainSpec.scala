package graft.queries

import graft.{NamedQuery, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** t20's trainer pinned against a THIRD implementation (the
  * SemDedupRecountSpec pattern): a plain-Scala greedy BPE loop over a
  * planted corpus, with the same argmax tie-break (count desc, left asc,
  * right asc) and the same greedy left-to-right non-overlap rule.  The
  * corpus plants the one subtle case — an odd run of equal tokens, where
  * `(a,a)` over `a a a a a` must merge positions 1–2 and 3–4 and leave
  * the 5th — and a decoy document OUTSIDE the 5% id-sample that would
  * change the learned merges if the sample filter leaked. */
class BpeTrainSpec extends SparkSpec {

  /** Reference trainer: greedy left-to-right merges, word granularity. */
  private def referenceTrain(docs: Seq[Seq[String]], rounds: Int): Seq[(Int, String, String, Long)] = {
    var cur = docs
    (1 to rounds).flatMap { k =>
      val counts = cur.flatMap(d => d.zip(d.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      if (counts.isEmpty) None
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
        cur = cur.map { d =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var i = 0
          while (i < d.length) {
            if (i + 1 < d.length && d(i) == l && d(i + 1) == r) { out += (l + r); i += 2 }
            else { out += d(i); i += 1 }
          }
          out.toList
        }
        Some((k, l, r, c))
      }
    }
  }

  // ---- the declarative K-window-pass encoder (the shape the t20/t21
  // DuckDB oracles unroll), kept executable here as the trainer's
  // round-trip reference.
  private def bpeWindow = Window.partitionBy(col("doc_id")).orderBy(col("seq"))

  /** Adjacency view (occ + next token + dense row index), lineage-cut
    * per round so the 8-round plan never nests. */
  private def adjacency(occ: DataFrame): DataFrame =
    Dedup.lineageCut(spark, occ
      .withColumn("ntok", lead(col("tok"), 1).over(bpeWindow))
      .withColumn("rn", row_number().over(bpeWindow)))

  /** One greedy left-to-right pass of the 1-row rule `best(l, r)`:
    * candidates overlap only as consecutive rn, greedy = even offset
    * from the chain start. */
  private def mergePass(adj: DataFrame, best: DataFrame): DataFrame = {
    val flagged = adj.crossJoin(broadcast(best))
      .withColumn("cand", col("tok") === col("l") && col("ntok") === col("r"))
      .withColumn("chain_start", max(when(col("cand") &&
        !coalesce(lag(col("cand"), 1).over(bpeWindow), lit(false)), col("rn")))
        .over(bpeWindow))
      .withColumn("is_m",
        col("cand") && (col("rn") - col("chain_start")) % 2 === 0)
      .withColumn("is_d", coalesce(lag(col("is_m"), 1).over(bpeWindow), lit(false)))
    adjacency(flagged.filter(!col("is_d"))
      .select(col("doc_id"), col("seq"),
        when(col("is_m"), concat(col("tok"), col("r"))).otherwise(col("tok")).as("tok")))
  }

  /** `(doc_id, seq, tok)` occurrences of the trainer's 5% id-sample
    * encoded under `bests` in rank order, one window pass per rule. */
  private def applyMerges(dir: String, bests: Seq[DataFrame]): DataFrame = {
    val occ = graft.tables.Tables.documents(spark, dir)
      .filter(col("doc_id") % 20 === 0)
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("seq", "tok")))
    bests.foldLeft(adjacency(occ.repartition(col("doc_id"))))(mergePass)
  }

  test("learned merge table == plain-Scala greedy BPE on a planted corpus") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe-train").toString
    // sampled docs: doc_id % 20 == 0.  Doc 40 plants the odd equal-token
    // run; doc 60 re-uses a merged token as the LEFT side of a later
    // merge (merge-of-merge).
    val sampled = Seq(
      0L -> "the quick fox jumps over the quick fox again and again",
      20L -> "the quick fox sleeps while the quick fox runs",
      40L -> "ha ha ha ha ha boom boom boom",
      60L -> "the quick fox the quick fox the quick fox",
      80L -> "over and over and over and out")
    // decoy OUTSIDE the sample: would dominate every merge if included
    val decoy = Seq(7L -> ("zz yy " * 40).trim)
    val rows = (sampled ++ decoy).map { case (id, text) =>
      (id, text, "en", "s0", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val expected = referenceTrain(
      sampled.map(_._2.split("\\s+").toSeq), rounds = 8)
    val got = TextOps.t20BpeTrain.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expected,
      s"merge tables diverge:\n got=$got\n want=$expected")
    // the decoy pair must not have been learned (sample filter held)
    assert(!got.exists(m => m._2.contains("zz") || m._3.contains("yy")),
      s"decoy document leaked into the training sample: $got")

    // ---- t21: the application loop round-trips the trainer's final state.
    // Re-encoding the SAMPLE with the learned rule list must land exactly
    // on the trainer's final occurrence table (the trainer applied those
    // same rules incrementally as it learned them).
    val (bests, finalOcc) = TextOps.bpeTrainLoop(spark, dir)
    val reApplied = applyMerges(dir, bests)
    def tokensPerDoc(df: DataFrame): Map[Long, Seq[String]] =
      df.select("doc_id", "seq", "tok").collect().toSeq.groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getInt(1)).map(_.getString(2))).toMap
    assert(tokensPerDoc(reApplied) == tokensPerDoc(finalOcc),
      "apply(t20 merges) does not round-trip the trainer's final occurrence table")

    // ---- t21: full-corpus encode == plain-Scala reference application.
    // The decoy doc (outside the training sample) IS encoded — rules
    // just never match it — so the reference applies the same rule list
    // to every document, greedy left-to-right, rank order.
    def referenceApply(doc: Seq[String]): Seq[String] =
      expected.foldLeft(doc) { case (d, (_, l, r, _)) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < d.length) {
          if (i + 1 < d.length && d(i) == l && d(i + 1) == r) { out += (l + r); i += 2 }
          else { out += d(i); i += 1 }
        }
        out.toList
      }
    val allDocs = sampled ++ decoy
    val wantBefore = allDocs.map(_._2.split("\\s+").length.toLong).sum
    val wantAfter = allDocs.map(d => referenceApply(d._2.split("\\s+").toSeq).length.toLong).sum
    // the one-pass native encoder must agree with the plain-Scala
    // reference byte for byte; the planted corpus covers the two subtle
    // cases: doc 40's odd equal-token run (greedy alternation) and doc
    // 60's merge-of-merge
    val t21 = TextOps.t21BpeApply.fn(spark, dir).collect()
    assert(t21.length == 1 && t21.head.getAs[String]("source") == "s0")
    assert(t21.head.getAs[Long]("n_docs") == allDocs.length.toLong)
    assert(t21.head.getAs[Long]("tokens_before") == wantBefore,
      s"tokens_before ${t21.head.getAs[Long]("tokens_before")} != $wantBefore")
    assert(t21.head.getAs[Long]("tokens_after") == wantAfter,
      s"tokens_after ${t21.head.getAs[Long]("tokens_after")} != $wantAfter")
    assert(t21.head.getAs[Long]("merges_applied") == wantBefore - wantAfter)
    assert(t21.head.getAs[Long]("compression_bp") == wantAfter * 10000 / wantBefore)
    // the retired alternatives fail loudly, naming key and value: the
    // K-pass encoder (t21 reads spark.graft.bpe.apply) and the columnar
    // lineage cut (t20 cuts on every round) — even where the session
    // already holds the trainer t21 built, so no cut runs; the former
    // defaults still pass and change nothing
    def withConf[T](k: String, v: String)(body: => T): T = {
      spark.conf.set(k, v)
      try body finally spark.conf.unset(k)
    }
    def run(q: NamedQuery): Seq[Seq[Any]] = q.fn(spark, dir).collect().map(_.toSeq).toSeq
    assert(Derivations.entries.keySet.asScala.exists(_._3 == "t20_bpe_train"),
      "t21 left no shared trainer: the columnar case below would not be a memo hit")
    for ((k, v, q) <- Seq(("spark.graft.bpe.apply", "passes", TextOps.t21BpeApply),
        ("spark.graft.cut.persist", "columnar", TextOps.t20BpeTrain))) {
      val e = withConf(k, v)(intercept[IllegalArgumentException](run(q)))
      assert(e.getMessage.contains(k) && e.getMessage.contains(v), e.getMessage)
    }
    assert(withConf("spark.graft.bpe.apply", "onepass")(run(TextOps.t21BpeApply)) ==
      t21.map(_.toSeq).toSeq)
    val t20 = run(TextOps.t20BpeTrain)
    assert(withConf("spark.graft.cut.persist", "rdd")(run(TextOps.t20BpeTrain)) == t20)
  }

  test("spark.graft.bpe.cache: t20+t21 share one memoized trainer; results unchanged") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe-cache").toString
    Seq((0L, "a b a b a b c", "en", "s0", 13L), (20L, "a b a b x y", "en", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val queries = Seq("t20_bpe_train", "t21_bpe_apply")
    def rows(name: String): Seq[Seq[Any]] =
      graft.SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSeq
    val isolated = queries.map { n => Derivations.clear(); n -> rows(n) }.toMap
    try {
      Derivations.clear()
      val shared = queries.map(n => n -> rows(n)).toMap
      val trainers = Derivations.entries.keySet.asScala.count(_._3 == "t20_bpe_train")
      assert(trainers == 1, s"expected ONE shared trainer memo entry, got $trainers")
      assert(shared == isolated, "the shared trainer changed t20/t21 results")
      // the per-query retrain is retired: false throws at t20 and t21,
      // the former production value true changes nothing
      spark.conf.set("spark.graft.bpe.cache", "false")
      queries.foreach { n =>
        val e = intercept[IllegalArgumentException](rows(n))
        assert(e.getMessage.contains("spark.graft.bpe.cache") && e.getMessage.contains("false"),
          e.getMessage)
      }
      spark.conf.set("spark.graft.bpe.cache", "true")
      assert(queries.map(n => n -> rows(n)).toMap == isolated)
    } finally {
      spark.conf.unset("spark.graft.bpe.cache")
      Derivations.clear()
    }
  }

  test("graft_bpe_apply kernel == plain-Scala greedy reference on 300 seeded random cases") {
    // Deterministic sweep (seed 42) over adversarial small alphabets:
    // tokens drawn from {a, b, ab, c, ca} make rule outputs collide with
    // existing tokens (merge "a"+"b" yields the real token "ab"), which
    // is exactly where a wrong greedy/cascade rule would diverge.  All
    // 300 cases evaluate in ONE DataFrame pass.
    val s = spark
    import s.implicits._
    graft.sentiment.GraftFunctions.register(spark)
    def referenceApply(doc: Seq[String], rules: Seq[(String, String)]): Seq[String] =
      rules.foldLeft(doc) { case (d, (l, r)) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < d.length) {
          if (i + 1 < d.length && d(i) == l && d(i + 1) == r) { out += (l + r); i += 2 }
          else { out += d(i); i += 1 }
        }
        out.toList
      }
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("a", "b", "ab", "c", "ca")
    val cases = (0 until 300).map { id =>
      val toks = Seq.fill(rnd.nextInt(21))(alphabet(rnd.nextInt(alphabet.length)))
      val rules = Seq.fill(rnd.nextInt(5))(
        (alphabet(rnd.nextInt(alphabet.length)), alphabet(rnd.nextInt(alphabet.length))))
      (id, toks, rules)
    }
    val got = cases.toDF("id", "toks", "ms")
      .selectExpr("id", "graft_bpe_apply(toks, ms) AS out")
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    cases.foreach { case (id, toks, rules) =>
      val want = referenceApply(toks, rules)
      assert(got(id) == want,
        s"case $id: toks=$toks rules=$rules\n kernel=${got(id)}\n ref=$want")
    }
  }

  test("graft_bpe_apply kernel: greedy alternation, merge-of-merge, rule order, empty rules") {
    val s = spark
    import s.implicits._
    graft.sentiment.GraftFunctions.register(spark)
    def apply(toks: Seq[String], merges: Seq[(String, String)]): Seq[String] = {
      val df = Seq((toks, merges)).toDF("toks", "ms")
        .selectExpr("graft_bpe_apply(toks, ms) AS out")
      df.collect().head.getSeq[String](0)
    }
    // odd equal-token run: alternate merges, 5th survives
    assert(apply(Seq("a", "a", "a", "a", "a"), Seq(("a", "a"))) == Seq("aa", "aa", "a"))
    // a merged token must NOT cascade within the same rule's pass
    assert(apply(Seq("x", "x", "y"), Seq(("x", "y"))) == Seq("x", "xy"))
    // merge-of-merge across rules, rank order respected
    assert(apply(Seq("the", "quick", "fox"), Seq(("the", "quick"), ("thequick", "fox")))
      == Seq("thequickfox"))
    // reversed rank order must NOT find the second merge
    assert(apply(Seq("the", "quick", "fox"), Seq(("thequick", "fox"), ("the", "quick")))
      == Seq("thequick", "fox"))
    // no rules / no matches / single token are identity
    assert(apply(Seq("a", "b"), Seq.empty) == Seq("a", "b"))
    assert(apply(Seq("a", "b"), Seq(("z", "z"))) == Seq("a", "b"))
    assert(apply(Seq("a"), Seq(("a", "a"))) == Seq("a"))
  }

  test("t22 fertility: tokens == t21's tokens_after per source; bp recounts from its own sums") {
    // both queries run the SAME one-pass encoder over the SAME trained
    // merges, so the per-source encoded-token totals must be identical —
    // and fertility_bp must be exactly chars·10⁴ div tokens
    val dir = sf()
    try {
      val t21 = TextOps.t21BpeApply.fn(spark, dir).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("tokens_after")).toMap
      val t22 = TextOps.t22BpeFertility.fn(spark, dir).collect()
      assert(t22.nonEmpty)
      for (r <- t22) {
        val src = r.getString(0)
        val chars = r.getAs[Long]("chars")
        val tokens = r.getAs[Long]("tokens")
        // name the degenerate branch FIRST: getAs[Long] on a NULL
        // fertility_bp would silently unbox to 0 and the recount would
        // die with an unrelated /-by-zero instead of naming the source
        assert(tokens > 0, s"$src: zero encoded tokens (fertility_bp is " +
          s"the nullif-guarded NULL branch) — degenerate fixture")
        assert(!r.isNullAt(r.fieldIndex("fertility_bp")), s"$src: null bp at tokens=$tokens")
        val bp = r.getAs[Long]("fertility_bp")
        assert(tokens == t21(src), s"$src: t22 tokens $tokens != t21 ${t21(src)}")
        assert(bp == chars * 10000L / tokens, s"$src: bp recount")
        // sanity: ≥ 1 char per token, and bounded by the longest doc
        assert(bp >= 10000L, s"$src: fertility below 1 char/token: $bp")
      }
    } finally Derivations.clear()
  }
}
