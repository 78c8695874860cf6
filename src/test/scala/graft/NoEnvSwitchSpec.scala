package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Engine code takes its settings as arguments and session config, never
  * from the process environment: an environment-variable switch inside an
  * operator is an A/B arm that no caller can see or test. Deployment
  * entry points (`Bench`, `Verify`, `examples`, `tools`) are out of scope.
  */
class NoEnvSwitchSpec extends AnyFunSuite {
  private val engineDirs = Seq(
    "ops", "functions", "constraints", "requirements", "runner", "core",
    "sources", "streaming")
  private val envRead = """sys\.env|System\.getenv""".r

  test("engine packages read no environment variables") {
    val root = Paths.get("src/main/scala/graft")
    val hits = engineDirs.flatMap { d =>
      val dir = root.resolve(d)
      assert(Files.isDirectory(dir), s"missing engine package directory $dir")
      val files = Files.walk(dir)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if envRead.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("environment reads in engine code:\n", "\n", ""))
  }
}
