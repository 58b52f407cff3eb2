package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one per suite (lazy), built by the
  * programs' own factory so specs run their configuration. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")

  def sf(name: String): String = s"/root/testdata/$name"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `f` with SQL confs set, restoring prior values afterwards. */
  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
