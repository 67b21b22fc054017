package graft

import java.nio.file.{FileSystems, Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.scalatest.funsuite.AnyFunSuite

/** One bridge into Spark's package-private API: `ColumnBridge.scala` is
  * the only main source that declares a package under
  * `org.apache.spark`. Kernels and Column functions live in `graft.*`,
  * and no main source declares a Catalyst expression class: kernels are
  * static methods that Spark's StaticInvoke calls, and sums are Spark's
  * own aggregates.
  */
class NamespaceSpec extends AnyFunSuite {
  private lazy val files: Seq[Path] = Files.walk(Paths.get("src/main/scala")).iterator().asScala
    .filter(_.toString.endsWith(".scala")).toSeq

  private def lines(f: Path): Seq[String] = Files.readAllLines(f).asScala.toSeq

  test("ColumnBridge.scala is the only main file in Spark's namespace") {
    assert(files.nonEmpty)
    def inSpark(f: Path): Boolean = lines(f).exists(_.startsWith("package org.apache.spark"))
    assert(files.filter(inSpark).map(_.getFileName.toString) === Seq("ColumnBridge.scala"))
  }

  test("no main class is a Catalyst expression or aggregate function") {
    // every class compiled from src/main, loaded without initializing it:
    // Expression is the root of every expression and aggregate base
    // (DeclarativeAggregate, TernaryExpression, Generator, ...)
    val location = Paths.get(classOf[graft.core.GQuery].getProtectionDomain.getCodeSource
      .getLocation.toURI)
    val root = if (Files.isDirectory(location)) location
      else FileSystems.newFileSystem(location).getPath("/")
    val names = Files.walk(root).iterator().asScala.map(p => root.relativize(p).toString)
      .filter(_.endsWith(".class")).map(_.stripSuffix(".class").replace('/', '.')).toSeq
    assert(names.contains("graft.core.GQuery"), names.take(5))
    val loader = getClass.getClassLoader
    val found = names.filter(n => classOf[Expression].isAssignableFrom(Class.forName(n, false, loader)))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
