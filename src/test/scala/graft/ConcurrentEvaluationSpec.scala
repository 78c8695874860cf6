package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.TestResult
import graft.requirements.WithinRequirement
import graft.runner.Runner

/** A requirement's constraints run concurrently: results keep declaration
  * order, failures keep their exception type, the caller's local properties
  * reach every job, and results equal a sequential run.
  */
class ConcurrentEvaluationSpec extends AnyFunSuite {
  import TestSpark._

  private def view(r: TestResult) = (r.outcome, r.constraintDescription, r.failureMessage)

  private def fiveConstraints(name: String): WithinRequirement = {
    val req = WithinRequirement.fromDataFrame(intDf(name, (1 to 30).map(Integer.valueOf)), name)
    req.addNRowsMinConstraint(10)
    req.addNullAbsenceConstraint("col_int")
    req.addUniquenessConstraint(Some(Seq("col_int")))
    req.addNumericMinConstraint("col_int", 1.0)
    req.addNumericMaxConstraint("col_int", 30.0)
  }

  test("results keep declaration order") {
    val req = WithinRequirement.fromDataFrame(intDf("order_t", (1 to 19).map(Integer.valueOf)), "order_t")
    (0 until 12).foreach { i =>
      if (i % 3 == 0) req.addUniquenessConstraint(Some(Seq("col_int")), name = Some(s"c$i"))
      else req.addNRowsEqualityConstraint(if (i % 2 == 0) 19L else 20L, name = Some(s"c$i"))
    }
    val results = req.test(spark)
    assert(results.map(_.constraintDescription) == req.constraints.map(_.description))
    assert(results.map(_.outcome) == (0 until 12).map(i => i % 3 == 0 || i % 2 == 0))
    // plan capture is per thread: a failing result still carries its plans
    assert(results.filterNot(_.outcome).forall(_.factualQueries.nonEmpty))
  }

  test("a constraint over a missing column throws the same exception type as before") {
    def req(): WithinRequirement = {
      val r = fiveConstraints("missing_t")
      r.addNullAbsenceConstraint("missing_a")
      r.addNumericMinConstraint("missing_b", 0.0)
    }
    val sequential = intercept[Exception](req().constraints.foreach(_.test(spark)))
    val concurrent = intercept[Exception](req().test(spark))
    assert(concurrent.getClass == sequential.getClass)
    assert(concurrent.getMessage.contains("missing_a"),
      s"not the first failure in declaration order: ${concurrent.getMessage}")
  }

  test("the caller's job tag, group and description reach every job") {
    val sc = spark.sparkContext
    // two rounds with different properties: a worker thread that kept an
    // earlier caller's properties fails the second round
    Seq("a", "b").foreach { round =>
      val req = fiveConstraints(s"props_$round")
      sc.setJobGroup(s"graft-group-$round", s"graft-description-$round")
      sc.addJobTag(s"graft-tag-$round")
      val props =
        try jobProperties(assert(req.test(spark).forall(_.outcome)))
        finally {
          sc.removeJobTag(s"graft-tag-$round")
          sc.clearJobGroup()
        }
      assert(props.nonEmpty)
      props.foreach { p =>
        assert(p.getProperty("spark.jobGroup.id") == s"graft-group-$round")
        assert(p.getProperty("spark.job.description") == s"graft-description-$round")
        val tags = Option(p.getProperty("spark.job.tags")).toSeq.flatMap(_.split(','))
        assert(tags.filter(_.startsWith("graft-tag-")) == Seq(s"graft-tag-$round"))
      }
    }
  }

  test("Runner.runAll on the TPC-H specification equals a sequential run") {
    val dir = "/root/testdata/sf0.001"
    val concurrent = Runner.runAll(spark, examples.TpchSpecification.requirements(dir))
    val sequential =
      examples.TpchSpecification.requirements(dir).flatMap(_.constraints).map(_.test(spark))
    assert(concurrent.size == 16)
    assert(concurrent.map(view) == sequential.map(view))
  }
}
