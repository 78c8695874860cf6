package graft.constraints

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.DataRef
import graft.ops.Dedup

/** Beyond-reference constraint family: corpus-level quality bounds built on
  * the training-data operators, declared through the same requirement DSL
  * as every reference constraint (so a near-duplication budget sits next to
  * row counts and null fractions in one specification).
  */

/** Bound the fraction of documents that participate in at least one
  * near-duplicate pair (MinHash + LSH at `jaccardThreshold`, the exact
  * `Dedup.minhashNearDups` pipeline — codegen'd kernels, banded candidate
  * generation, exact Jaccard verification). Documents get ephemeral ids for
  * the pair step; only the participation COUNT leaves the executors.
  */
final case class MaxNearDupFraction(
    ref: DataRef,
    textColumn: String,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    jaccardThreshold: Double = 0.9,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"max_near_dup_fraction was expected to lie within [0, 1] but is $refValue.")
  require(
    jaccardThreshold > 0 && jaccardThreshold <= 1,
    s"jaccardThreshold must lie in (0, 1]: $jaccardThreshold")

  // Blocks.scoped: the evaluation reduces to one scalar — every
  // checkpoint the pair pipeline materializes is dead on return and is
  // released with the scope, so a suite holds only the blocks of the
  // evaluations in flight: at most one per thread of the requirement's
  // pool (`Requirement.testAll`), never a finished evaluation's.
  override protected def retrieve(spark: SparkSession, r: DataRef): Double =
    graft.core.Blocks.scoped {
      val base = graft.core.Blocks.checkpoint(
        r.selection(spark)
          .select(col(textColumn))
          .where(col(textColumn).isNotNull)
          // the id must be stable across the pair job's scans — materialize
          .withColumn("dj_nid", monotonically_increasing_id()))
      val total = base.count()
      if (total == 0L) 0.0
      else {
        val pairs = Dedup.minhashNearDups(
          base, textColumn, "dj_nid", threshold = jaccardThreshold)
        val involved = pairs
          .select(explode(array(col("id1"), col("id2"))).as("dj_nid"))
          .distinct()
          .count()
        involved.toDouble / total
      }
    }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual <= target,
      Some(s"$factual of ${ref.describe} documents participate in " +
        s"near-duplicate pairs (jaccard >= $jaccardThreshold) while only " +
        s"$targetPrefix$target were allowed to."))
}

/** Semantic cross-corpus contamination budget (between-table): the
  * fraction of FIRST-table embedding vectors with a ≥`cosineThreshold`
  * near-duplicate in the second table must stay ≤ the target —
  * [[MaxCrossNearDupFraction]]'s embedding sibling
  * ([[graft.ops.Similarity.crossEmbeddingNearDups]]: per-side capped
  * banded sign-bit buckets, cross-only pairs, exact-cosine verify).
  */
final case class MaxCrossSemanticDupFraction(
    ref: DataRef,
    ref2Required: DataRef,
    embeddingColumn: String,
    embeddingColumn2: String,
    refValue: Option[Double],
    cosineThreshold: Double = 0.9,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    refValue.exists(v => v >= 0 && v <= 1),
    s"max_cross_semantic_dup_fraction must lie within [0, 1] but is $refValue.")

  override protected def ref2Option: Option[DataRef] = Some(ref2Required)

  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
   graft.core.Blocks.scoped {
    def prepared(r: DataRef, c: String) = graft.core.Blocks.checkpoint(
      r.selection(spark)
        .select(col(c).as("dj_vec"))
        .where(col("dj_vec").isNotNull)
        .withColumn("dj_nid", monotonically_increasing_id()))
    val train = prepared(ref, embeddingColumn)
    val eval_ = prepared(ref2Required, embeddingColumn2)
    val total = train.count()
    val factual =
      if (total == 0L) 0.0
      else {
        val contaminated = graft.ops.Similarity
          .crossEmbeddingNearDups(train, eval_, "dj_nid", "dj_vec",
            threshold = cosineThreshold,
            bits = graft.ops.Similarity.nearDupBits(total))
          .select(col("id1")).distinct().count()
        contaminated.toDouble / total
      }
    val target = refValue.get
    if (factual <= target) graft.core.TestResult.success(description)
    else
      graft.core.TestResult.failure(
        description,
        s"$factual of ${ref.describe} vectors have a semantic near-duplicate " +
          s"(cosine >= $cosineThreshold) in ${ref2Required.describe} while " +
          s"only $target were allowed to.")
   }
  }
}

/** Encoding-health budget: the fraction of documents showing encoding
  * artifacts (mojibake marks, disallowed control characters, or U+FFFD
  * replacement characters — [[graft.ops.Encoding]]) must stay ≤ the
  * target. A crawl batch that regressed to double-encoded UTF-8 fails
  * loudly before it poisons training text. One codegen'd projection +
  * one count pair.
  */
final case class MaxEncodingArtifactFraction(
    ref: DataRef,
    textColumn: String,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"max_encoding_artifact_fraction must lie within [0, 1] but is $refValue.")

  override protected def retrieve(spark: SparkSession, r: DataRef): Double = {
    val t = col(textColumn)
    val dirty = graft.ops.Encoding.mojibakeMarks(t) > 0 ||
      graft.ops.Encoding.controlChars(t) > 0 ||
      graft.ops.Encoding.replacementChars(t) > 0
    val row = r.selection(spark)
      .where(t.isNotNull)
      .agg(count(lit(1)).as("n"), count(when(dirty, 1)).as("dirty"))
      .head()
    val total = row.getLong(0)
    if (total == 0L) 0.0 else row.getLong(1).toDouble / total
  }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual <= target,
      Some(s"$factual of ${ref.describe} documents carry encoding artifacts " +
        s"(mojibake/control/replacement characters) while at most " +
        s"$targetPrefix$target were allowed."))
}

/** Character-entropy budget: the fraction of documents whose normalized
  * character-distribution Shannon entropy falls below `minEntropy` nats
  * ([[graft.ops.TextAnalysis.charProfile]] — one kernel scan per row) must
  * stay ≤ the target. Low entropy means degenerate repetition (key-mash,
  * single-char runs, template spam) — the signal Gopher's word-level
  * rules can miss when the junk happens to form word-shaped runs. Empty
  * documents count as low-entropy.
  */
final case class MaxLowEntropyFraction(
    ref: DataRef,
    textColumn: String,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    minEntropy: Double = 1.5,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"max_low_entropy_fraction must lie within [0, 1] but is $refValue.")
  require(minEntropy >= 0, s"minEntropy must be non-negative: $minEntropy")

  override protected def retrieve(spark: SparkSession, r: DataRef): Double = {
    val p = graft.ops.TextAnalysis.charProfile(col(textColumn))
    val low = p.isNull || p.getField("entropy") < minEntropy
    val row = r.selection(spark)
      .where(col(textColumn).isNotNull)
      .agg(count(lit(1)).as("n"), count(when(low, 1)).as("low"))
      .head()
    val total = row.getLong(0)
    if (total == 0L) 0.0 else row.getLong(1).toDouble / total
  }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual <= target,
      Some(s"$factual of ${ref.describe} documents have character entropy " +
        s"below $minEntropy nats while at most $targetPrefix$target " +
        "were allowed."))
}

/** Document-quality budget: the fraction of documents passing the Gopher
  * rule set ([[graft.ops.TextAnalysis.gopherRules]] — word-count bounds,
  * mean word length, symbol/bullet/ellipsis ratios, alpha fraction,
  * stopword presence) must reach the target. One codegen'd projection +
  * one count pair — nothing but two longs leaves the executors.
  */
final case class MinGopherKeepFraction(
    ref: DataRef,
    textColumn: String,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    minWords: Int = 50,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"min_gopher_keep_fraction must lie within [0, 1] but is $refValue.")

  override protected def retrieve(spark: SparkSession, r: DataRef): Double = {
    val base = r.selection(spark).where(col(textColumn).isNotNull)
    val row = graft.ops.TextAnalysis
      .gopherRules(base, textColumn, minWords = minWords)
      .agg(
        count(lit(1)).as("n"),
        count(when(col("gopher_keep"), 1)).as("kept"))
      .head()
    val total = row.getLong(0)
    if (total == 0L) 1.0 else row.getLong(1).toDouble / total
  }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual >= target,
      Some(s"only $factual of ${ref.describe} documents pass the Gopher " +
        s"quality rules while at least $targetPrefix$target must."))
}

/** Boilerplate budget: the fraction of corpus units (lines) removed by the
  * cross-document frequency pass ([[graft.ops.Dedup.removeBoilerplate]])
  * must stay ≤ the target — a corpus whose crawl suddenly duplicates
  * navigation chrome everywhere fails loudly instead of silently shrinking
  * after cleaning.
  */
final case class MaxBoilerplateFraction(
    ref: DataRef,
    textColumn: String,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    delimiter: String = "\n",
    minDocFraction: Double = 0.5,
    groupColumn: Option[String] = None,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"max_boilerplate_fraction must lie within [0, 1] but is $refValue.")

  override protected def retrieve(spark: SparkSession, r: DataRef): Double = {
    val base = r.selection(spark)
      .where(col(textColumn).isNotNull)
      .withColumn("dj_bid", monotonically_increasing_id())
    val row = Dedup
      .removeBoilerplate(base, textColumn, "dj_bid", delimiter,
        minDocFraction = minDocFraction, groupCol = groupColumn)
      .agg(sum(col("n_units")).as("units"), sum(col("n_removed")).as("removed"))
      .head()
    if (row.isNullAt(0) || row.getLong(0) == 0L) 0.0
    else row.getLong(1).toDouble / row.getLong(0)
  }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual <= target,
      Some(s"$factual of ${ref.describe} units are cross-document " +
        s"boilerplate while only $targetPrefix$target were allowed to be."))
}

/** Token-level duplication budget: the fraction of corpus TOKENS lying
  * inside duplicated exact-substring spans (`Dedup.duplicatedSpans` — every
  * `windowTokens`-token window occurring anywhere earlier in the corpus)
  * must stay ≤ the target. This is the budget document-level near-dup
  * checks miss: bulk-quoted or syndicated passages inside otherwise-unique
  * documents. Documents get ephemeral ids for the window-fingerprint step;
  * only the two token totals leave the executors.
  */
final case class MaxDupSpanFraction(
    ref: DataRef,
    textColumn: String,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    windowTokens: Int = 8,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"max_dup_span_fraction was expected to lie within [0, 1] but is $refValue.")
  require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")

  // scalar evaluation — scope releases every checkpoint on return (see
  // MaxNearDupFraction)
  override protected def retrieve(spark: SparkSession, r: DataRef): Double =
    graft.core.Blocks.scoped {
      val base = graft.core.Blocks.checkpoint(
        r.selection(spark)
          .select(col(textColumn))
          .where(col(textColumn).isNotNull)
          // the id must be stable across the fingerprint job's scans
          .withColumn("dj_nid", monotonically_increasing_id()))
      val totals = Dedup
        .duplicatedSpans(base, textColumn, "dj_nid", windowTokens)
        .agg(
          coalesce(sum(col("dup_tokens")), lit(0L)).as("dj_dup"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("dj_n"))
        .head()
      val (dup, n) = (totals.getLong(0), totals.getLong(1))
      if (n == 0L) 0.0 else dup.toDouble / n
    }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual <= target,
      Some(s"$factual of ${ref.describe} tokens lie in duplicated " +
        s"$windowTokens-token spans while only $targetPrefix$target were " +
        "allowed to."))
}

/** Semantic (embedding-space) duplication budget: the fraction of vectors
  * that participate in at least one within-cluster cosine near-dup pair
  * (`Similarity.semanticNearDups` — SemDeDup-style k-means pruning + exact
  * cosine verify) must stay ≤ the target. Rows get ephemeral ids; only the
  * participation count leaves the executors.
  */
final case class MaxSemanticDupFraction(
    ref: DataRef,
    embeddingColumn: String,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    cosineThreshold: Double = 0.9,
    nClusters: Int = 0,
    lloydIters: Int = 2,
    probes: Int = 0,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"max_semantic_dup_fraction was expected to lie within [0, 1] but is $refValue.")
  require(
    cosineThreshold >= -1 && cosineThreshold <= 1,
    s"cosineThreshold must lie in [-1, 1]: $cosineThreshold")
  require(nClusters >= 0, s"nClusters must be >= 0 (0 = auto): $nClusters")
  require(probes >= 0, s"probes must be >= 0 (0 = auto): $probes")

  // scalar evaluation — scope releases every checkpoint on return (see
  // MaxNearDupFraction)
  override protected def retrieve(spark: SparkSession, r: DataRef): Double =
    graft.core.Blocks.scoped {
      val base = graft.core.Blocks.checkpoint(
        r.selection(spark)
          .select(col(embeddingColumn))
          .where(col(embeddingColumn).isNotNull)
          // the id must be stable across the pair job's scans — materialize
          .withColumn("dj_nid", monotonically_increasing_id()))
      val total = base.count()
      if (total == 0L) 0.0
      else {
        // corpus-aware defaults (r8 verdict item 2): 0 = auto — cells from
        // corpus/200, probes from cells/4 — the recall-tuned posture a
        // caller who knows only their data gets without hand-picking
        val cells =
          if (nClusters > 0) nClusters
          else graft.ops.Similarity.semanticClusters(total)
        val p =
          if (probes > 0) probes
          else graft.ops.Similarity.semanticProbesAuto(cells)
        val pairs = graft.ops.Similarity.semanticNearDups(
          base, "dj_nid", embeddingColumn, cosineThreshold,
          nClusters = cells, lloydIters = lloydIters,
          corpusSize = Some(total), probes = p)
        val involved = pairs
          .select(explode(array(col("id1"), col("id2"))).as("dj_nid"))
          .distinct()
          .count()
        involved.toDouble / total
      }
    }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual <= target,
      Some(s"$factual of ${ref.describe} vectors participate in semantic " +
        s"near-duplicate pairs (cosine >= $cosineThreshold) while only " +
        s"$targetPrefix$target were allowed to."))
}

/** Between-table near-dup containment budget: the fraction of `ref`'s
  * documents (e.g. a training corpus) that have at least one near-duplicate
  * in `ref2Required` (e.g. an evaluation suite) must stay ≤ the target —
  * the declarable form of train/eval contamination checking, built on
  * `Dedup.crossNearDups` (cross-table MinHash+LSH, exact Jaccard verify).
  * Rows get ephemeral ids per side; only the participation count leaves
  * the executors.
  */
final case class MaxCrossNearDupFraction(
    ref: DataRef,
    ref2Required: DataRef,
    textColumn: String,
    textColumn2: String,
    refValue: Option[Double],
    jaccardThreshold: Double = 0.9,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    refValue.exists(v => v >= 0 && v <= 1),
    s"max_cross_near_dup_fraction must lie within [0, 1] but is $refValue.")
  require(
    jaccardThreshold > 0 && jaccardThreshold <= 1,
    s"jaccardThreshold must lie in (0, 1]: $jaccardThreshold")

  override protected def ref2Option: Option[DataRef] = Some(ref2Required)

  // scalar evaluation — scope releases every checkpoint on return (see
  // MaxNearDupFraction)
  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
   graft.core.Blocks.scoped {
    def prepared(r: DataRef, c: String) = graft.core.Blocks.checkpoint(
      r.selection(spark)
        .select(col(c).as("dj_text"))
        .where(col("dj_text").isNotNull)
        // ids must be stable across the pair job's scans — materialize
        .withColumn("dj_nid", monotonically_increasing_id()))
    val train = prepared(ref, textColumn)
    val eval_ = prepared(ref2Required, textColumn2)
    val total = train.count()
    val factual =
      if (total == 0L) 0.0
      else {
        val contaminated = Dedup
          .crossNearDups(train, eval_, "dj_text", "dj_nid",
            threshold = jaccardThreshold)
          .select(col("id1")).distinct().count()
        contaminated.toDouble / total
      }
    val target = refValue.get
    if (factual <= target) graft.core.TestResult.success(description)
    else
      graft.core.TestResult.failure(
        description,
        s"$factual of ${ref.describe} documents have a near-duplicate " +
          s"(jaccard >= $jaccardThreshold) in ${ref2Required.describe} while " +
          s"only $target were allowed to.")
   }
  }
}

/** Shard-vs-PERSISTED-corpus near-dup budget — [[MaxCrossNearDupFraction]]
  * against a [[graft.sources.DedupIndex]] instead of a live second table:
  * the fraction of `ref`'s documents with a near-duplicate (exact Jaccard
  * ≥ `jaccardThreshold`) in the indexed corpus must stay ≤ the target.
  * This is the declarable form of the rolling-ingestion gate: the corpus
  * was fingerprinted once at index-build time, and every shard's check
  * costs only the shard's own shingling plus the co-bucketed candidate
  * join — bit-identical to what `MaxCrossNearDupFraction` would report
  * against the corpus itself (the incremental-vs-batch spec pin).
  *
  * `idColumn` must be unique per row (it anchors pair identity); it is
  * renamed to the index's own id column internally, so shard and index
  * id columns need not share a name.
  */
final case class MaxIndexedNearDupFraction(
    ref: DataRef,
    textColumn: String,
    idColumn: String,
    indexPath: String,
    refValue: Option[Double],
    jaccardThreshold: Double = 0.9,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    refValue.exists(v => v >= 0 && v <= 1),
    s"max_indexed_near_dup_fraction must lie within [0, 1] but is $refValue.")
  require(
    jaccardThreshold > 0 && jaccardThreshold <= 1,
    s"jaccardThreshold must lie in (0, 1]: $jaccardThreshold")

  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
   graft.core.Blocks.scoped {
    val meta = graft.sources.DedupIndex.readMeta(indexPath)
    val shard = ref.selection(spark)
      .where(col(textColumn).isNotNull && col(idColumn).isNotNull)
      .select(col(idColumn).as(meta.idCol), col(textColumn))
    val total = shard.count()
    val factual =
      if (total == 0L) 0.0
      else {
        val contaminated = graft.sources.DedupIndex
          .incrementalNearDups(shard, textColumn, indexPath,
            threshold = jaccardThreshold)
          .select(col("id1")).distinct().count()
        contaminated.toDouble / total
      }
    val target = refValue.get
    if (factual <= target) graft.core.TestResult.success(description)
    else
      graft.core.TestResult.failure(
        description,
        s"$factual of ${ref.describe} documents have a near-duplicate " +
          s"(jaccard >= $jaccardThreshold) in the indexed corpus at " +
          s"$indexPath while only $target were allowed to.")
   }
  }
}

/** Between-corpus SUBSTRING contamination budget: the fraction of
  * first-table documents whose winnowing-fingerprint containment in the
  * second table reaches `minContainment`
  * ([[graft.ops.Dedup.winnowContamination]]) must stay ≤ the target. The
  * winnowing guarantee makes this the verbatim-leak detector: any shared
  * normalized substring of ≥ `k + w - 1` characters contributes a shared
  * fingerprint, so a lifted paragraph is caught even when whole-document
  * Jaccard barely moves.
  */
/** Declarable index health (the rebuild-advisor as a GATE): the persisted
  * ANN index at `indexPath` must be healthy AS OPERATED — indexed recall
  * against exact ground truth on the referenced LIVE corpus meets
  * `refValue`, the cell occupancy hasn't collapsed (quantizer drift), and
  * append layering is within the compaction budget
  * ([[graft.sources.AnnIndex.healthReport]]). The failure message carries
  * the report's recommendation — "rebuild" (refit geometry) vs "compact"
  * (merge file-sets) — so a failing nightly run says WHAT maintenance to
  * schedule, not just that quality slipped.
  */
final case class AnnIndexHealthy(
    ref: DataRef,
    idColumn: String,
    vectorColumn: String,
    indexPath: String,
    refValue: Option[Double],
    k: Int = 10,
    nProbe: Int = 4,
    nQueries: Int = 64,
    maxFilesPerBucket: Double = 4.0,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(refValue.exists(v => v > 0 && v <= 1),
    s"ann_index_healthy requires a recall target in (0, 1]: $refValue")
  require(k >= 1 && nProbe >= 1 && nQueries >= 1,
    "k, nProbe and nQueries must be positive")

  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
   graft.core.Blocks.scoped {
    val A = graft.sources.AnnIndex
    val m = A.readMeta(indexPath)
    val corpus = ref.selection(spark)
      .where(col(idColumn).isNotNull && col(vectorColumn).isNotNull)
      .select(col(idColumn).as(m.idCol), col(vectorColumn).as(m.vecCol))
    val report = A.healthReport(
      spark, indexPath, k, recallTarget = refValue.get,
      corpus = Some(corpus), nProbe = nProbe, nProbeQueries = nQueries,
      maxFilesPerBucket = maxFilesPerBucket)
    if (report.recommendation == "ok")
      graft.core.TestResult.success(description)
    else
      graft.core.TestResult.failure(
        description,
        s"the ann index at $indexPath is unhealthy against ${ref.describe}: " +
          s"recommendation '${report.recommendation}' (recall@$k " +
          s"${report.recall} vs target ${refValue.get}; max cell holds " +
          s"${report.maxCellFrac} of the corpus; ${report.cellsUsedFrac} of " +
          s"${report.nCells} cells used; ${report.filesPerBucket} files per " +
          s"bucket vs budget $maxFilesPerBucket).")
   }
  }
}

/** Declarable dedup-index health: the persisted MinHash-LSH index at
  * `indexPath` must not have accumulated hot-cell candidate mass past
  * `refValue` (over-cap cells are dropped at query time — that mass is
  * documents the index can no longer match) nor append layering past the
  * compaction budget ([[graft.sources.DedupIndex.healthReport]]). The
  * failure message carries the rebuild-vs-compact recommendation.
  */
final case class DedupIndexHealthy(
    ref: DataRef,
    indexPath: String,
    refValue: Option[Double],
    maxBucketSize: Int = 1000,
    maxFilesPerBucket: Double = 4.0,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(refValue.exists(v => v >= 0 && v <= 1),
    s"dedup_index_healthy requires a hot-mass budget in [0, 1]: $refValue")
  require(maxBucketSize > 0, s"maxBucketSize must be positive: $maxBucketSize")

  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
   graft.core.Blocks.scoped {
    val report = graft.sources.DedupIndex.healthReport(
      spark, indexPath, maxBucketSize,
      cappedMassLimit = refValue.get, maxFilesPerBucket = maxFilesPerBucket)
    if (report.recommendation == "ok")
      graft.core.TestResult.success(description)
    else
      graft.core.TestResult.failure(
        description,
        s"the dedup index at $indexPath is unhealthy: recommendation " +
          s"'${report.recommendation}' (${report.cappedMassFrac} of cell " +
          s"membership sits in cells over $maxBucketSize vs budget " +
          s"${refValue.get}; largest cell ${report.maxCellSize}; " +
          s"${report.filesPerBucket} files per bucket vs budget " +
          s"$maxFilesPerBucket).")
   }
  }
}

final case class MaxSubstringContaminationFraction(
    ref: DataRef,
    ref2Required: DataRef,
    textColumn: String,
    textColumn2: String,
    refValue: Option[Double],
    shingleK: Int = 8,
    winnowWindow: Int = 4,
    minContainment: Double = 0.5,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    refValue.exists(v => v >= 0 && v <= 1),
    s"max_substring_contamination_fraction must lie within [0, 1] but is $refValue.")
  require(
    minContainment >= 0 && minContainment <= 1,
    s"minContainment must lie in [0, 1]: $minContainment")

  override protected def ref2Option: Option[DataRef] = Some(ref2Required)

  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
   graft.core.Blocks.scoped {
    def prepared(r: DataRef, c: String) = graft.core.Blocks.checkpoint(
      r.selection(spark)
        .select(col(c).as("dj_text"))
        .where(col("dj_text").isNotNull)
        .withColumn("dj_nid", monotonically_increasing_id()))
    val corpus = prepared(ref, textColumn)
    val eval_ = prepared(ref2Required, textColumn2)
    val total = corpus.count()
    val factual =
      if (total == 0L) 0.0
      else {
        val flagged = Dedup
          .winnowContamination(corpus, eval_, "dj_text", "dj_nid",
            k = shingleK, w = winnowWindow, minContainment = minContainment)
          .where(col("flagged")).count()
        flagged.toDouble / total
      }
    val target = refValue.get
    if (factual <= target) graft.core.TestResult.success(description)
    else
      graft.core.TestResult.failure(
        description,
        s"$factual of ${ref.describe} documents have winnowing-fingerprint " +
          s"containment >= $minContainment in ${ref2Required.describe} " +
          s"(shared substrings of >= ${shingleK + winnowWindow - 1} chars) " +
          s"while only $target were allowed to.")
   }
  }
}

/** Between-corpus text-distribution drift budget: KL(ref ‖ ref2) over
  * smoothed hashed-n-gram feature distributions
  * ([[graft.ops.Dsir.hashedNgramKl]]) must stay ≤ the target — the
  * hashed-text sibling of the numeric PSI drift constraint: a crawl whose
  * vocabulary/topic mix shifts against the reference corpus fails loudly
  * before it dilutes a training mix.
  */
final case class MaxHashedNgramKlDrift(
    ref: DataRef,
    ref2Required: DataRef,
    textColumn: String,
    textColumn2: String,
    nBuckets: Int,
    refValue: Option[Double],
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(refValue.exists(_ >= 0), s"max_kl must be non-negative: $refValue")
  require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")

  override protected def ref2Option: Option[DataRef] = Some(ref2Required)

  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
    val factual = graft.ops.Dsir.hashedNgramKl(
      ref.selection(spark).select(col(textColumn)),
      ref2Required.selection(spark).select(col(textColumn2).as(textColumn)),
      textColumn, nBuckets)
    val target = refValue.get
    if (factual <= target) graft.core.TestResult.success(description)
    else
      graft.core.TestResult.failure(
        description,
        s"hashed-ngram KL divergence of ${ref.describe} against " +
          s"${ref2Required.describe} is $factual while at most $target was " +
          "allowed (text distribution drift).")
  }
}

/** Quality-classifier gate: at least `refValue` of documents (among those
  * with at least one hashed feature) must score ≥ `scoreThreshold` under a
  * trained [[graft.ops.Classifier.Model]] — the declarative form of the
  * usual "keep only docs the quality model likes" curation step, run as a
  * corpus health check instead of a filter.
  */
final case class MinClassifierScoreFraction(
    ref: DataRef,
    textColumn: String,
    idColumn: String,
    model: graft.ops.Classifier.Model,
    scoreThreshold: Double,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"min_classifier_score_fraction must lie within [0, 1] but is $refValue.")

  override protected def retrieve(spark: SparkSession, r: DataRef): Double = {
    val row = graft.ops.Classifier
      .score(model, r.selection(spark), textColumn, idColumn)
      .agg(
        count(lit(1)).as("n"),
        count(when(col("score") >= scoreThreshold, 1)).as("kept"))
      .head()
    val total = row.getLong(0)
    if (total == 0L) 1.0 else row.getLong(1).toDouble / total
  }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual >= target,
      Some(s"only $factual of ${ref.describe} documents score >= " +
        s"$scoreThreshold under the quality classifier while at least " +
        s"$targetPrefix$target must."))
}

/** Blocklist budget: at most `refValue` of documents may contain ≥
  * `minHits` blocklisted tokens ([[graft.ops.TextAnalysis.blocklistHits]]
  * — token-exact whole-word matching on the normalized text, so "assess"
  * never trips "ass"). The keyword safety/policy gate; callers supply
  * their own list.
  */
final case class MaxBlocklistFraction(
    ref: DataRef,
    textColumn: String,
    blocklist: Seq[String],
    minHits: Int,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"max_blocklist_fraction must lie within [0, 1] but is $refValue.")
  require(minHits >= 1, s"min_hits must be >= 1: $minHits")

  override protected def retrieve(spark: SparkSession, r: DataRef): Double = {
    val row = r.selection(spark)
      .where(col(textColumn).isNotNull)
      .agg(
        count(lit(1)).as("n"),
        count(when(
          graft.ops.TextAnalysis.blocklistHits(col(textColumn), blocklist)
            >= minHits, 1)).as("flagged"))
      .head()
    val total = row.getLong(0)
    if (total == 0L) 0.0 else row.getLong(1).toDouble / total
  }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual <= target,
      Some(s"$factual of ${ref.describe}.$textColumn documents contain >= " +
        s"$minHits blocklisted tokens while only $targetPrefix$target were " +
        "allowed."))
}

/** Lexical-diversity floor: the corpus-wide distinct-n-gram ratio
  * (distinct / total word n-grams, [[graft.ops.Corpus.corpusDiversity]])
  * must be ≥ the target — the mode-collapse alarm for synthetic or
  * template-heavy corpora whose individual documents look clean while
  * the corpus keeps repeating the same phrases. Vacuous when the corpus
  * has no n-grams.
  */
final case class MinDistinctNgramRatio(
    ref: DataRef,
    textColumn: String,
    n: Int,
    refValue: Option[Double],
    ref2: Option[DataRef] = None,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    refValue.exists(v => v >= 0 && v <= 1),
    s"min_distinct_ngram_ratio must lie within [0, 1] but is $refValue.")

  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
    graft.ops.Corpus
      .corpusDiversity(ref.selection(spark), textColumn, n)
      .head(1)
      .headOption match {
      case None => graft.core.TestResult.success(description)
      case Some(r) if r.isNullAt(5) => graft.core.TestResult.success(description)
      case Some(r) =>
        val factual = r.getDouble(5)
        val target = refValue.get
        if (factual >= target) graft.core.TestResult.success(description)
        else
          graft.core.TestResult.failure(
            description,
            s"distinct $n-gram ratio of ${ref.describe}.$textColumn is " +
              s"$factual while at least $target was required (lexical " +
              "diversity / mode collapse).")
    }
  }
}

/** Ranking-quality gate: the exact ROC AUC of `scoreColumn` against the
  * binary outcome "`labelColumn` equals `positiveValue`" must be ≥ the
  * target — "the quality score must actually separate good documents
  * from bad ones before anyone filters on it"
  * ([[graft.ops.Stats.aucExact]], Mann–Whitney with midrank ties).
  * Vacuous when either class is empty (no ranking to measure).
  */
final case class MinAuc(
    ref: DataRef,
    scoreColumn: String,
    labelColumn: String,
    positiveValue: String,
    scale: Long,
    refValue: Option[Double],
    ref2: Option[DataRef] = None,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    refValue.exists(v => v >= 0 && v <= 1),
    s"min_auc must lie within [0, 1] but is $refValue.")

  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
    val r = graft.ops.Stats
      .aucExact(
        ref.selection(spark), scoreColumn,
        col(labelColumn).cast("string") === positiveValue, scale)
      .head()
    if (r.isNullAt(2)) graft.core.TestResult.success(description)
    else {
      val factual = r.getDouble(2)
      val target = refValue.get
      if (factual >= target) graft.core.TestResult.success(description)
      else
        graft.core.TestResult.failure(
          description,
          s"AUC of $scoreColumn against $labelColumn == '$positiveValue' " +
            s"on ${ref.describe} is $factual while at least $target was " +
            "required (the score does not rank the outcome).")
    }
  }
}

/** Script-purity budget: the fraction of profiled-script characters
  * belonging to scripts OUTSIDE `allowedScripts` must stay ≤ the target —
  * the wrong-language-contamination alarm for a corpus that is supposed to
  * be (say) Latin-script ([[graft.ops.TextAnalysis.scriptMix]] machinery;
  * counts are exact integer regexp counts summed corpus-wide, one
  * projection + one aggregate).
  */
final case class MaxForeignScriptFraction(
    ref: DataRef,
    textColumn: String,
    allowedScripts: Seq[String],
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"max_foreign_script_fraction must lie within [0, 1] but is $refValue.")
  private val unknown =
    allowedScripts.filterNot(graft.ops.TextAnalysis.ScriptNames.contains)
  require(
    unknown.isEmpty,
    s"unknown scripts $unknown; profiled: ${graft.ops.TextAnalysis.ScriptNames}")

  override protected def retrieve(spark: SparkSession, r: DataRef): Double = {
    val t = coalesce(col(textColumn), lit(""))
    val counts = graft.ops.TextAnalysis.ScriptNames.map(s =>
      s -> regexp_count(t, lit(s"[\\p{Is$s}]")).cast("long"))
    val total = counts.map(_._2).reduce(_ + _)
    val foreign = counts
      .collect { case (s, c) if !allowedScripts.contains(s) => c }
      .reduceOption(_ + _)
      .getOrElse(lit(0L))
    val row = r.selection(spark)
      .agg(sum(total).as("dj_total"), sum(foreign).as("dj_foreign"))
      .head()
    val tot = if (row.isNullAt(0)) 0L else row.getLong(0)
    if (tot == 0L) 0.0 else row.getLong(1).toDouble / tot
  }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual <= target,
      Some(s"$factual of ${ref.describe} script characters fall outside " +
        s"$allowedScripts while at most $targetPrefix$target may."))
}

/** Near-dup cross-split leakage budget: the fraction of NON-`trainSplit`
  * documents whose n-gram-Jaccard near-dup cluster also contains at least
  * one `trainSplit` document must stay ≤ the target — the eval
  * contamination exact decontamination misses
  * ([[graft.ops.Corpus.splitLeakage]] over
  * [[graft.ops.Dedup.ngramJaccardPairs]] +
  * [[graft.ops.Dedup.connectedComponents]]; the split label is a column
  * the caller already carries, e.g. [[graft.ops.Corpus.assignSplits]]
  * output). Vacuous (0) when no non-train documents exist.
  */
final case class MaxSplitLeakageFraction(
    ref: DataRef,
    textColumn: String,
    idColumn: String,
    splitColumn: String,
    trainSplit: String,
    shingleK: Int,
    jaccardThreshold: Double,
    refValue: Option[Double] = None,
    ref2: Option[DataRef] = None,
    override val nameOverride: Option[String] = None)
    extends ValueConstraint[Double] {
  require(
    refValue.forall(v => v >= 0 && v <= 1),
    s"max_split_leakage_fraction must lie within [0, 1] but is $refValue.")

  override protected def retrieve(spark: SparkSession, r: DataRef): Double = {
    val docs = r.selection(spark)
    val clusters = Dedup
      .connectedComponents(Dedup.ngramJaccardPairs(
        docs, textColumn, idColumn, shingleK, jaccardThreshold))
      .select(col("id").as(idColumn), col("cluster_id"))
    val splits = docs.select(col(idColumn), col(splitColumn))
    val leaked = graft.ops.Corpus
      .splitLeakage(clusters, idColumn, "cluster_id", splits, splitColumn, trainSplit)
      .count()
    val nonTrain = docs
      .where(col(splitColumn) =!= trainSplit && col(idColumn).isNotNull)
      .count()
    if (nonTrain == 0L) 0.0 else leaked.toDouble / nonTrain
  }

  override protected def compare(factual: Double, target: Double): (Boolean, Option[String]) =
    (factual <= target,
      Some(s"$factual of ${ref.describe} non-'$trainSplit' documents share " +
        s"a near-dup cluster with a '$trainSplit' document while at most " +
        s"$targetPrefix$target may (cross-split leakage)."))
}

/** Corpus-freshness floor: the mean n-gram novelty
  * ([[graft.ops.Dedup.ngramNovelty]] — fraction of a document's distinct
  * window fingerprints appearing in no other document) over documents long
  * enough to fingerprint must be ≥ the target — "is this source still
  * adding new text, or re-serving what the corpus already has". Vacuous
  * when no document reaches one window.
  */
final case class MinMeanNovelty(
    ref: DataRef,
    textColumn: String,
    idColumn: String,
    windowTokens: Int,
    refValue: Option[Double],
    ref2: Option[DataRef] = None,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    refValue.exists(v => v >= 0 && v <= 1),
    s"min_mean_novelty must lie within [0, 1] but is $refValue.")

  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
    val r = Dedup
      .ngramNovelty(ref.selection(spark), textColumn, idColumn, windowTokens)
      .where(col("n_fp") > 0)
      .agg(avg(col("novelty")).as("dj_mean"))
      .head()
    if (r.isNullAt(0)) graft.core.TestResult.success(description)
    else {
      val factual = r.getDouble(0)
      val target = refValue.get
      if (factual >= target) graft.core.TestResult.success(description)
      else
        graft.core.TestResult.failure(
          description,
          s"mean $windowTokens-token n-gram novelty of " +
            s"${ref.describe}.$textColumn is $factual while at least " +
            s"$target was required (the source mostly re-serves existing text).")
    }
  }
}

/** Statistically-honest keep-rate floor: for EVERY group, the Wilson
  * lower confidence bound of the boolean `valueColumn`'s true-rate must be
  * ≥ the target ([[graft.ops.Stats.proportionCI]]) — unlike a raw-share
  * floor, a small group can only fail when its evidence actually supports
  * a rate below the floor. Groups with no non-null rows are skipped.
  */
final case class MinProportionLowerBound(
    ref: DataRef,
    valueColumn: String,
    groupColumns: Seq[String],
    z: Double,
    refValue: Option[Double],
    ref2: Option[DataRef] = None,
    override val nameOverride: Option[String] = None)
    extends Constraint {
  require(
    refValue.exists(v => v >= 0 && v <= 1),
    s"min_proportion_lower_bound must lie within [0, 1] but is $refValue.")

  override def test(spark: SparkSession): graft.core.TestResult = withPlans {
    val target = refValue.get
    val ci = graft.ops.Stats
      .proportionCI(ref.selection(spark), valueColumn, groupColumns, z)
    val loCol = col("ci_lo")
    val bad = ci
      .where(loCol < target)
      .orderBy(groupColumns.map(col) :+ col("ci_lo"): _*)
      .limit(11)
      .collect()
    if (bad.isEmpty) graft.core.TestResult.success(description)
    else {
      val shown = bad.take(10).map { row =>
        val key =
          if (groupColumns.isEmpty) "(all rows)"
          else groupColumns.indices.map(i => String.valueOf(row.get(i))).mkString("/")
        val off = groupColumns.size
        s"$key: ci_lo=${row.getDouble(off + 3)} " +
          s"(k=${row.getLong(off + 1)}, n=${row.getLong(off)})"
      }
      val more = if (bad.length > 10) ", ..." else ""
      graft.core.TestResult.failure(
        description,
        s"Wilson lower bound of $valueColumn on ${ref.describe} falls " +
          s"below $target for: ${shown.mkString("; ")}$more.")
    }
  }
}
