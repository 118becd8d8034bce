package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dedup-TIER wall-time scaling curve (round 5 — extends the d5 kernel's
  * comparison-count curve to the full c1/d6/d9 composition the verdict
  * asked for): synthesizes 1×/2×/4× sf0.1 corpora and times the whole
  * composition — d6 dup clusters + d9 canonical reps + c1 curation —
  * with the session caches cleared between the queries ("off": each
  * query derives its own graph) and kept (the production shape: one
  * shared derivation, three consumers), min-of-2 runs per point.
  *
  * Corpus synthesis: replica r of the base corpus remaps every WORD w to
  * "w·r", so replicas occupy disjoint shingle spaces — no cross-replica
  * near-dup pair can exist, and the true dup-cluster structure scales
  * EXACTLY linearly (the "corpus grew by federation" regime).  Growth
  * beyond linear in the measurement is therefore the engine's own
  * super-linearity, not the fixture's.
  *
  * Writes the curves to SCALING.md (gated by DedupScalingSpec) and
  * exits non-zero if any curve's 1×→4× growth exponent reaches 2.
  * Run: `sbt "Test/runMain graft.queries.DedupScalingSweep"`. */
object DedupScalingSweep {

  /** Marker-fenced block this tool owns inside SCALING.md.  Everything
    * outside the fences is hand-written analysis the sweep must never
    * touch (a full-file overwrite here once clobbered half the doc). */
  def fence(name: String, body: String): String =
    s"<!-- sweep:$name:begin (regenerated by DedupScalingSweep; hand-edits inside are lost) -->\n" +
      body + s"\n<!-- sweep:$name:end -->"

  /** Replace the named fenced block in `doc`; None if the fence is absent. */
  def splice(doc: String, name: String, body: String): Option[String] = {
    val re = ("(?s)<!-- sweep:" + name + ":begin[^>]*-->.*?<!-- sweep:" + name + ":end -->").r
    re.findFirstIn(doc).map(_ => re.replaceFirstIn(
      doc, java.util.regex.Matcher.quoteReplacement(fence(name, body))))
  }

  /** The SCALING.md text to write.  With no file yet, a minimal skeleton
    * around the `dedup-tier` block; an existing file gets ONLY that
    * block replaced, and an existing file without the fence fails
    * loudly (naming it) rather than being rewritten as a skeleton — the
    * rest of the document is hand-written evidence. */
  def updatedDoc(existing: Option[String], tierBlock: String): String =
    existing match {
      case None =>
        "# Dedup-tier wall-time scaling (c1 + d6 + d9 composition)\n\n" +
          fence("dedup-tier", tierBlock) + "\n"
      case Some(doc) => splice(doc, "dedup-tier", tierBlock).getOrElse(
        throw new IllegalStateException("SCALING.md has no <!-- sweep:dedup-tier:begin/end --> " +
          "fence; restore it around the dedup-tier table instead of letting the sweep " +
          "overwrite the hand-written sections"))
    }

  def synthesize(spark: SparkSession, baseDir: String, outDir: String, k: Int): Unit = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val maxId = base.agg(max("doc_id")).head.getLong(0) + 1
    val replicas = (0 until k).map { r =>
      base.select(
        (col("doc_id") + lit(r * maxId)).as("doc_id"),
        when(col("text").isNotNull,
          array_join(transform(split(col("text"), "\\s+"),
            w => concat(w, lit(s"·$r"))), " "))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    replicas.reduce(_ unionAll _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Harness.session(cpus, "spark.sql.session.timeZone" -> "UTC")
    spark.sparkContext.setLogLevel("ERROR")
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val load0 = loadAvg()
    val path = java.nio.file.Paths.get("SCALING.md")
    val existing =
      if (java.nio.file.Files.exists(path)) Some(java.nio.file.Files.readString(path)) else None
    updatedDoc(existing, "") // a missing fence fails before the sweep, not after it

    val composition = Seq("d6_dup_clusters", "d9_cluster_canonical", "c1_corpus_curation")
    val sizes = Seq(1, 2, 4)
    val dirs = sizes.map { k =>
      val dir = java.nio.file.Files.createTempDirectory(s"dedup-scale-${k}x").toString
      synthesize(spark, baseDir, dir, k)
      k -> dir
    }.toMap

    // mode -> k -> min-of-2 composition wall (s).  Cache cleared before
    // every timed run: ON measures one-derivation-three-consumers within
    // a run, never reuse across runs.  Modes: per-query isolation
    // (Harness.clearCaches between the queries) on the exact pair source
    // ("off"), the shared dup-graph on the exact source ("on"), and the
    // shared graph on the d13-certified banded source ("banded" —
    // spark.graft.dedup.pairs=banded, the 100 TB config).
    def timeComposition(dir: String, isolated: Boolean,
        confs: Seq[(String, String)]): Double = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val t = (1 to 2).map { _ =>
        graft.Harness.clearCaches(spark)
        val t0 = System.nanoTime()
        composition.foreach { q =>
          if (isolated) graft.Harness.clearCaches(spark)
          graft.SparkEntry.queries(q)(spark, dir).count(): Unit
        }
        (System.nanoTime() - t0) / 1e9
      }.min
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      t
    }
    // "off"/"on" PIN the exact pair source: since round 9 the library
    // default is banded, and these two curves exist precisely to keep the
    // exact tier's cost measured against it.
    val modes = Seq(
      ("off", true, Seq("spark.graft.dedup.pairs" -> "exact")),
      ("on", false, Seq("spark.graft.dedup.pairs" -> "exact")),
      ("banded", false, Seq("spark.graft.dedup.pairs" -> "banded")))

    val results = for ((mode, isolated, confs) <- modes; k <- sizes)
      yield (mode, k, timeComposition(dirs(k), isolated, confs))
    Derivations.clear()
    val load1 = loadAvg()

    def wall(mode: String, k: Int): Double =
      results.collectFirst { case (m, kk, w) if m == mode && kk == k => w }.get
    def exponent(mode: String): Double =
      math.log(wall(mode, 4) / wall(mode, 1)) / math.log(4.0)

    // SCALING.md also carries hand-written analysis sections; this tool
    // owns ONLY the marker-fenced dedup-tier block ([[updatedDoc]]).
    val md = new StringBuilder
    md ++= s"Base corpus: `$baseDir` replicated 1x/2x/4x with per-replica word\n"
    md ++= "remapping (disjoint shingle spaces - dup structure scales exactly\n"
    md ++= "linearly, so super-linear growth below would be the engine's own).\n"
    md ++= f"min-of-2 runs, local[$cpus%s], load avg $load0%.2f -> $load1%.2f.\n"
    md ++= "Regenerate: `sbt \"Test/runMain graft.queries.DedupScalingSweep\"`.\n\n"
    md ++= "Modes: per-query isolation / shared dup-graph cache, both on the\n"
    md ++= "exact pair join; `banded` = shared cache + `spark.graft.dedup.pairs=\n"
    md ++= "banded` (d3's MinHash-banded pair source — result-identical, certified\n"
    md ++= "by the d13 audit + DedupPairSourceSpec; candidates come from bounded\n"
    md ++= "band-bucket occupancy instead of shingle co-occurrence).\n\n"
    md ++= "| corpus | cache off (s) | cache on (s) | banded (s) | on/off | banded/on |\n"
    md ++= "|---|---|---|---|---|---|\n"
    sizes.foreach { k =>
      val off = wall("off", k); val on = wall("on", k); val bd = wall("banded", k)
      md ++= f"| ${k}x | $off%.2f | $on%.2f | $bd%.2f | ${on / off}%.2f | ${bd / on}%.2f |\n"
    }
    md ++= f"\nGrowth exponent 1x->4x (log4 of the wall ratio; linear = 1, quadratic = 2):\n"
    md ++= f"- cache off: **${exponent("off")}%.2f**\n"
    md ++= f"- cache on:  **${exponent("on")}%.2f**\n"
    md ++= f"- banded:    **${exponent("banded")}%.2f**"
    val tierBlock = md.toString

    java.nio.file.Files.writeString(path, updatedDoc(existing, tierBlock))
    println(tierBlock)
    spark.stop()
    if (modes.exists { case (m, _, _) => exponent(m) >= 2.0 }) {
      System.err.println("SCALING SWEEP FAILED: growth exponent reached quadratic")
      sys.exit(1)
    }
  }
}
