package graft.examples

import org.apache.spark.sql.SparkSession

import graft.core.Condition
import graft.requirements.{BetweenRequirement, Requirement, WithinRequirement}
import graft.runner.Runner

/** End-to-end specification example over the driver's TPC-H-ish testdata —
  * the engine-side analogue of the reference's
  * `docs/examples/twitch_specification.py`: build requirements, run them,
  * print formatted results, exit non-zero on failure.
  *
  * Run: `sbt "runMain graft.examples.TpchSpecification [sfDir]"`
  */
object TpchSpecification {

  /** The specification over the tables under `dir`. */
  def requirements(dir: String): Seq[Requirement] = {
    val lineitem = WithinRequirement.fromParquet(s"$dir/lineitem.parquet")
    lineitem.addColumnExistenceConstraint(Seq("l_orderkey", "l_quantity", "l_shipdate"))
    lineitem.addNRowsMinConstraint(1000)
    lineitem.addNumericMinConstraint("l_quantity", 1.0)
    lineitem.addNumericMaxConstraint("l_quantity", 50.0)
    lineitem.addNumericBetweenConstraint("l_discount", 0.9, 0.0, 0.1)
    lineitem.addNullAbsenceConstraint("l_orderkey")
    lineitem.addVarcharRegexConstraint("l_returnflag", "^[ANR]$")
    lineitem.addUniquesEqualityConstraint(Seq("l_linestatus"), Seq("O", "F"))

    val orders = WithinRequirement.fromParquet(s"$dir/orders.parquet")
    orders.addUniquenessConstraint(Some(Seq("o_orderkey")))
    orders.addFunctionalDependencyConstraint(Seq("o_orderkey"), Seq("o_custkey"))
    orders.addCategoricalBoundConstraint(
      Seq("o_orderstatus"),
      Map[Any, (Double, Double)](
        "O" -> (0.25, 0.4), "F" -> (0.25, 0.4), "P" -> (0.25, 0.4)))
    orders.addNumericMeanConstraint(
      "o_totalprice", meanValue = 150000.0, maxAbsoluteDeviation = 100000.0)

    // between: conditioned halves of the same table behave consistently
    val split = BetweenRequirement.fromParquet(
      s"$dir/lineitem.parquet", s"$dir/lineitem.parquet")
    split.addColumnSubsetConstraint()
    split.addColumnTypeConstraint("l_quantity", "l_quantity")
    split.addKs2SampleConstraint("l_extendedprice", "l_extendedprice")
    split.addNRowsEqualityConstraint(
      condition1 = Some(Condition.raw("l_linenumber >= 1")),
      condition2 = None)

    Seq(lineitem, orders, split)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val failures = Runner.runAndReport(spark, requirements(dir))
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
