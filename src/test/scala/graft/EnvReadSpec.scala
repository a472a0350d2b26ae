package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The library carries no env-gated dev knobs: the only environment
  * reads in `src/main` are the `SPARK_GRAFT_*` deployment and harness
  * settings of the runnable mains. A new behaviour switch is a
  * parameter or a Spark conf, never an env var read deep in an
  * operator. */
class EnvReadSpec extends AnyFunSuite {

  private val Allowed =
    Set("CPUS", "SF_DIR", "WARM_DIR", "ONLY", "BENCH_OUT").map("SPARK_GRAFT_" + _)

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  test("src/main reads no env var beyond the SPARK_GRAFT_* deployment settings") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (${root.getAbsolutePath})")
    val read = """sys\.env|System\.getenv""".r
    val keyed =
      """(?:sys\.env(?:\s*\.\s*(?:get|getOrElse|contains|apply))?|System\.getenv)\s*\(\s*"([^"]*)"""".r
    val bad = for {
      f <- sources(root)
      (line, no) <- new String(Files.readAllBytes(f.toPath), UTF_8).linesIterator.zipWithIndex
      if read.findFirstIn(line).isDefined
      keys = keyed.findAllMatchIn(line).map(_.group(1)).toSeq
      // every read must name a literal key, and every key must be allowed
      if keys.size != read.findAllIn(line).size || keys.exists(k => !Allowed(k))
    } yield s"${f.getPath}:${no + 1}: ${line.trim}"
    if (bad.nonEmpty) fail(bad.mkString("env reads outside the allowed settings:\n", "\n", ""))
  }
}
