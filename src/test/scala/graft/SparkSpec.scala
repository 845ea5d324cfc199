package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    SparkEntry.tune(s)
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** `f` with the shared session's `pairs` set, then the previous values
    * back (specs run one at a time). */
  def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Visible data files under `dir` (Spark skips `_`/`.` names),
    * relative path → (length, mtime): equal listings mean no data file
    * was added, removed or rewritten. */
  def dataFiles(dir: String): Map[String, (Long, java.nio.file.attribute.FileTime)] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala
        .filter { p =>
          val name = p.getFileName.toString
          Files.isRegularFile(p) && !name.startsWith("_") && !name.startsWith(".")
        }
        .map(p => root.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p)))
        .toMap
    }
  }

  /** `body` run with `key` forced to [[Route.Small]], then to
    * [[Route.Large]]; fails unless each run decided `key` on the side it
    * forced, so a law comparing the two results compares two branches. */
  def onBothSides[T](key: String)(body: => T): (T, T) = {
    def run(side: Route.Side): T = {
      val before = Route.taken(key)(side)
      val out = Route.forcing(key, side)(body)
      assert(Route.taken(key)(side) > before, s"no $side decision on $key")
      out
    }
    (run(Route.Small), run(Route.Large))
  }
}
