package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DataSource, FileSource, ParquetSource}
import graft.ops.Warc

/** A file source reflects its schema once per instance and session, like
  * the reference's `sa.Table(..., autoload_with=engine)`: later reads pass
  * the reflected schema and launch no inference job, and still return the
  * rows and schema the plain reader returns.
  */
class SourceReflectionSpec extends AnyFunSuite {
  import TestSpark._

  private val lineitem = "/root/testdata/sf0.001/lineitem.parquet"

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSameAsReader(src: DataSource, plain: => DataFrame): Unit =
    (1 to 2).foreach { call =>
      val df = src.df(spark)
      assert(df.schema == plain.schema, s"call $call: schema differs")
      assert(rows(df) == rows(plain), s"call $call: rows differ")
    }

  test("five df calls on one ParquetSource launch at most one job") {
    val src = ParquetSource(lineitem)
    val jobs = countJobs((1 to 5).foreach(_ => src.df(spark)))
    assert(jobs <= 1, s"five df calls launched $jobs jobs")
  }

  test("a fresh ParquetSource re-infers: the memo is per instance") {
    val first = ParquetSource(lineitem)
    val firstJobs = countJobs(first.df(spark))
    assert(firstJobs > 0, "parquet schema inference should launch a job")
    assert(countJobs(first.df(spark)) == 0)
    assert(countJobs(ParquetSource(lineitem).df(spark)) == firstJobs)
  }

  test("a partitioned parquet directory keeps its partition column and type") {
    val dir = Files.createTempDirectory("graft-reflect-part").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/t"
    intDf("part_t", (1 to 20).map(Integer.valueOf))
      .selectExpr("col_int", "CAST(1 + col_int % 2 AS INT) AS k")
      .write.partitionBy("k").parquet(path)
    assert(new java.io.File(path, "k=1").isDirectory && new java.io.File(path, "k=2").isDirectory)

    val src = ParquetSource(path)
    assertSameAsReader(src, spark.read.parquet(path))
    assert(src.df(spark).schema("k").dataType == IntegerType)
  }

  test("csv and json sources reflect once and read the same rows and schema") {
    val dir = Files.createTempDirectory("graft-reflect-file").toFile
    dir.deleteOnExit()
    val csv = new java.io.File(dir, "t.csv")
    val json = new java.io.File(dir, "t.json")
    val w1 = new java.io.PrintWriter(csv)
    w1.println("id,label,score"); (1 to 9).foreach(i => w1.println(s"$i,row$i,${i * 0.5}")); w1.close()
    val w2 = new java.io.PrintWriter(json)
    (1 to 9).foreach(i => w2.println(s"""{"id":$i,"label":"row$i","score":${i * 0.5}}"""))
    w2.close()

    val csvOptions = Map("header" -> "true", "inferSchema" -> "true")
    val sources = Seq(
      (() => FileSource(csv.getAbsolutePath, "csv", csvOptions),
        () => spark.read.format("csv").options(csvOptions).load(csv.getAbsolutePath)),
      (() => FileSource(json.getAbsolutePath, "json"),
        () => spark.read.format("json").load(json.getAbsolutePath)))
    sources.foreach { case (make, plain) =>
      val single = countJobs(make().df(spark))
      assert(single > 0, "schema inference should scan the file")
      val src = make()
      val total = countJobs((1 to 5).foreach(_ => src.df(spark)))
      assert(total <= single, s"five df calls launched $total jobs, one call $single")
      assertSameAsReader(make(), plain())
    }
  }

  test("a connector that refuses a reader schema is read plainly on every call") {
    // `warc` is a DataSource V2 provider without external-metadata support:
    // passing it a schema throws, so it must never get the reflected one
    val dir = Files.createTempDirectory("graft-reflect-warc")
    dir.toFile.deleteOnExit()
    val records = (0 until 3).map { i =>
      Warc.WarcRecord("response", Seq("WARC-Target-URI" -> s"https://w.example/$i"),
        s"payload $i".getBytes("UTF-8"))
    }
    Files.write(dir.resolve("a.warc"), Warc.encodeWarc(records))
    val src = FileSource(dir.toString, "warc")
    val plain = rows(spark.read.format("warc").load(dir.toString).drop("payload"))
    assert(plain.size == 3)
    (1 to 2).foreach { call =>
      assert(rows(src.df(spark).drop("payload")) == plain, s"call $call: rows differ")
    }
  }
}
