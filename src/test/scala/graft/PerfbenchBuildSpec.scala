package graft

import java.io.File
import scala.sys.process._
import scala.util.Try
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark in `perfbench/` compiles its own JVM program against
  * the engine's names (`graftbridge`, `QueryUtils`, `TextFunctions`),
  * outside sbt. A rename there must fail tier-1, not only the
  * benchmark run, so this spec runs the benchmark's build.
  */
class PerfbenchBuildSpec extends AnyFunSuite {
  test("perfbench/build.py compiles the engine with the benchmark's program") {
    assume(Try(Seq("python3", "--version").!(ProcessLogger(_ => ()))).toOption.contains(0),
      "python3 is needed to run the benchmark's build")
    assume(sys.env.get("SPARK_HOME").exists(h => new File(h, "jars").isDirectory),
      "$SPARK_HOME/jars is needed to run the benchmark's build")
    val log = new StringBuilder
    val exit = Seq("python3", "perfbench/build.py")
      .!(ProcessLogger(line => log.append(line).append('\n')))
    assert(exit === 0, log.toString)
  }
}
