package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Blocks, Condition}
import graft.ops.{Corpus, Dedup, Pipeline, TextAnalysis}
import graft.requirements.{BetweenRequirement, Requirement, WithinRequirement}
import graft.runner.Runner

/** One benchmark workload. A pass runs every op of the workload once,
  * through [[Harness.op]], and checks each op's output.
  */
trait Workload {
  def tables: Seq[String]
  /** Units of work per pass: constraints for suites, input documents for curation. */
  def itemsPerPass: Long
  /** Warm passes a run makes at least, whatever `--seconds` says. */
  def minWarmPasses: Int
  def prepare(spark: SparkSession): Unit = ()
  def pass(h: Harness, pass: String): Unit
  /** Extra tagged ops of the traced run, after the timed passes. */
  def traceProbes(h: Harness): Unit = ()
}

/** A requirement of a suite: how to build it, and its constraints as
  * builder calls. Built fresh for every pass, with its constraints in the
  * order the run's seed picked.
  */
final case class ReqSpec(
    make: String => Requirement,
    adds: Seq[Requirement => Unit]) {
  def build(dir: String, order: Seq[Int]): Requirement = {
    val r = make(dir)
    order.foreach(j => adds(j)(r))
    r
  }
}

object ReqSpec {
  def within(table: String)(adds: (WithinRequirement => Unit)*): ReqSpec =
    ReqSpec(dir => WithinRequirement.fromParquet(s"$dir/$table.parquet"),
      adds.map(f => (r: Requirement) => f(r.asInstanceOf[WithinRequirement])))

  def between(t1: String, t2: String)(adds: (BetweenRequirement => Unit)*): ReqSpec =
    ReqSpec(dir => BetweenRequirement.fromParquet(s"$dir/$t1.parquet", s"$dir/$t2.parquet"),
      adds.map(f => (r: Requirement) => f(r.asInstanceOf[BetweenRequirement])))
}

/** A requirement suite run through `Runner.runAll`, one requirement per op.
  * Every record and job tag is keyed by position in the canonical suite:
  * `r<i>` for requirement i, `r<i>c<j>` for its constraint j. Descriptions
  * are not unique (`NullAbsence` and `MaxNullFraction` on one table both
  * describe themselves as `MaxNullFraction::<table>`).
  */
final class Suite(
    specs: Seq[ReqSpec],
    val tables: Seq[String],
    dir: String,
    expected: Map[String, Expectation],
    seed: Long) extends Workload {
  private val rnd = new Random(seed)
  private val reqOrder = rnd.shuffle(specs.indices.toVector)
  private val consOrder = specs.map(s => rnd.shuffle(s.adds.indices.toVector))
  val itemsPerPass: Long = specs.map(_.adds.size).sum.toLong
  val minWarmPasses = 3

  /** (canonical index, constraint order, requirement), in run order. */
  def build(): Seq[(Int, Seq[Int], Requirement)] =
    reqOrder.map(i => (i, consOrder(i), specs(i).build(dir, consOrder(i))))

  /** Position key of the k-th built constraint of requirement i. */
  def key(i: Int, order: Seq[Int], k: Int): String = s"r${i}c${order(k)}"

  def check(key: String, req: Requirement, k: Int, r: graft.core.TestResult): Boolean =
    expected.get(key).exists(_.matches(req.constraints(k).getClass.getSimpleName, r))

  def pass(h: Harness, pass: String): Unit =
    for ((i, order, req) <- build())
      h.op(pass, s"r$i") {
        val results = Runner.runAll(h.spark, Seq(req))
        h.observe(results.indices.map(k => (key(i, order, k), req, k, results(k))))
        results.size == order.size &&
          results.indices.forall(k => check(key(i, order, k), req, k, results(k)))
      }

  /** Each constraint alone through `Runner.collectDataTests`, tagged by
    * position; then every thunk a second time, on the same constraint
    * objects, to count the jobs the retrieval memo lets through.
    */
  override def traceProbes(h: Harness): Unit = {
    val built = build()
    val thunks = Runner.collectDataTests(built.map(_._3))
    val keyed = built.flatMap { case (i, order, req) => order.indices.map(k => (key(i, order, k), req, k)) }
    require(keyed.size == thunks.size)
    keyed.zip(thunks).foreach { case ((key, req, k), (_, thunk)) =>
      h.op("ct", key)(check(key, req, k, thunk(h.spark)))
    }
    keyed.zip(thunks).foreach { case ((key, req, k), (_, thunk)) =>
      h.op("memo", key)(check(key, req, k, thunk(h.spark)))
    }
  }
}

/** Expected result of one constraint, keyed by position: its class, its
  * description, its outcome and its failure message (empty when it passes).
  */
final case class Expectation(family: String, description: String, outcome: Boolean, message: String) {
  def matches(actualFamily: String, r: graft.core.TestResult): Boolean =
    actualFamily == family && r.constraintDescription == description && r.outcome == outcome &&
      Expectation.escape(r.failureMessage.getOrElse("")) == message
}

object Expectation {
  def escape(s: String): String = s.replace("\\", "\\\\").replace("\n", "\\n").replace("\t", "\\t")
}

object Suites {
  private def c(s: String): Option[Condition] = Some(Condition.raw(s))

  /** One within-requirement per table (scalar aggregates, uniqueness and a
    * functional dependency), then two between-requirements whose
    * retrievals shuffle (row equality under a condition, referential
    * integrity). Four constraints fail by design.
    */
  val specs: Seq[ReqSpec] = Seq(
    ReqSpec.within("lineitem")(
      _.addNRowsMinConstraint(1000),
      _.addNullAbsenceConstraint("l_orderkey"),
      _.addMaxNullFractionConstraint("l_suppkey", 0.01),
      _.addVarcharRegexConstraint("l_returnflag", "^[ANR]$"),
      _.addUniquenessConstraint(Some(Seq("l_orderkey", "l_linenumber")))),
    ReqSpec.within("orders")(
      _.addNumericMeanConstraint("o_totalprice", 150000.0, 100000.0),
      _.addCategoricalBoundConstraint(Seq("o_orderstatus"),
        Map[Any, (Double, Double)]("O" -> (0.3, 0.37), "F" -> (0.3, 0.37), "P" -> (0.3, 0.37))),
      _.addFunctionalDependencyConstraint(Seq("o_orderkey"), Seq("o_custkey"))),
    ReqSpec.within("customer")(
      _.addNullAbsenceConstraint("c_acctbal")),
    ReqSpec.within("part")(
      _.addVarcharMaxLengthConstraint("p_brand", 8L)),
    ReqSpec.within("supplier")(
      _.addNRowsMaxConstraint(100L)),
    ReqSpec.within("events")(
      _.addDateMinConstraint("ts", "2024-01-01")),
    ReqSpec.between("lineitem", "lineitem")(
      _.addRowEqualityConstraint(Some(Seq("l_orderkey", "l_linenumber", "l_quantity")),
        Some(Seq("l_orderkey", "l_linenumber", "l_quantity")), 0.0,
        condition2 = c("l_quantity > 10"))),
    ReqSpec.between("lineitem", "orders")(
      _.addReferentialIntegrityConstraint(Seq("l_orderkey"), Seq("o_orderkey"))))
}

/** `examples/CorpusPipeline` steps 1-2, composed as the example composes
  * them, one op per stage: the quality gate, then MinHash near-dup
  * clustering with connected components. The inputs do not depend on the
  * seed.
  */
final class Curate(dir: String, expected: Map[String, Long]) extends Workload {
  val tables: Seq[String] = Seq("documents")
  val itemsPerPass: Long = DataGen.NDocs.toLong
  // a warm pass is about 12 s on 4 cores: two fit the run budget
  val minWarmPasses = 2
  private var docs: DataFrame = _

  override def prepare(spark: SparkSession): Unit =
    docs = spark.read.parquet(s"$dir/documents.parquet")

  def pass(h: Harness, pass: String): Unit = {
    var gated: DataFrame = null
    h.op(pass, "s0.gate") {
      gated = Pipeline
        .curateCorpus(docs, "text", "doc_id", minQuality = 0.5)
        .join(
          TextAnalysis.gopherRules(docs, "text", minWords = 10)
            .where(col("gopher_keep")).select("doc_id"),
          "doc_id")
        .join(
          Corpus.repetitionSignals(docs, "text", "doc_id")
            .where(col("top2_frac") < 0.2 && col("dup5_frac") < 0.2)
            .select("doc_id"),
          "doc_id")
      h.count("gated", gated.count()) == expected("gated")
    }
    h.op(pass, "s1.neardup") {
      val pairs = Dedup.minhashNearDups(gated, "text", "doc_id", threshold = 0.8)
      val clusters = Dedup.connectedComponents(pairs)
      val deduped = gated.join(
        clusters.where(col("id") =!= col("cluster_id"))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      h.count("deduped", deduped.count()) == expected("deduped")
    }
    // both counts consumed their frames: drop the pass's checkpoints, as a
    // long-lived curation service would between batches
    Blocks.releaseAll()
  }
}
