package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One bridge into Spark's package-private API: `ColumnBridge.scala` is
  * the only main source that declares a package under
  * `org.apache.spark`. Kernels and Column functions live in `graft.*`.
  */
class NamespaceSpec extends AnyFunSuite {
  test("ColumnBridge.scala is the only main file in Spark's namespace") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    def inSpark(f: Path): Boolean =
      Files.readAllLines(f).asScala.exists(_.startsWith("package org.apache.spark"))
    assert(files.filter(inSpark).map(_.getFileName.toString) === Seq("ColumnBridge.scala"))
  }
}
