package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library reads JVM properties and environment variables for
  * deployment and tool settings only. A size threshold is a constant
  * next to the code it sizes ([[Route]]), so no process-global knob can
  * steer one query's plan; a new read fails here until its name is
  * added to the allowlist. */
class SettingsReadSpec extends AnyFunSuite {
  private val allowed = Set(
    "graft.index.dir", "graft.oracle.sfDir", "java.io.tmpdir",
    // HNSW_L3_GATE.json was produced with these
    "graft.hnsw.levels", "GRAFT_HNSW_LEVELS",
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SKIP")
  private val reader = """sys\.props|sys\.env|System\.getProperty|System\.getenv"""
  private val anyRead = reader.r
  private val namedRead = s"""(?:$reader)(?:\\.\\w+)?\\(\\s*"([^"]+)"""".r

  test("src/main reads no property or env var outside the settings allowlist") {
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val bad = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*")
      names = namedRead.findAllMatchIn(code).map(_.group(1)).toSeq
      if anyRead.findAllIn(code).size > names.size ||
        names.exists(n => !allowed(n) && !n.startsWith("GRAFT_VERIFY_"))
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }
}
