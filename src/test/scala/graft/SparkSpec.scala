package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, ScalaTest
  * suites run sequentially under sbt's forked JVM). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  /** A temp dir deleted at JVM exit ([[TempDirs.create]]), so suite runs
    * do not accumulate warehouses under the temp root. */
  def tmpDir(prefix: String): String = TempDirs.create(prefix).toString

  /** Independent replay of `TextAnalysis.sampleBucket` (':split' salt,
    * first 8 md5 hex chars mod 100) via raw MessageDigest — specs compare
    * the engine against THIS, so either side drifting fails the suite. */
  def md5SplitBucket(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$s:split".getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 100
  }

  /** The 80/10/10 label over [[md5SplitBucket]] (`TextAnalysis.hashSplit`
    * defaults). */
  def md5SplitLabel(s: String): String = {
    val b = md5SplitBucket(s)
    if (b < 80) "train" else if (b < 90) "val" else "test"
  }

  /** Independent CDC-chunk replay of `graft.functions.CdcParagraphs`
    * (boundary after tokens whose md5 first byte % grain == 0) via raw
    * MessageDigest — the brute-force reference every paragraph-family
    * spec compares the engine against. */
  def cdcChunks(grain: Int)(text: String): Seq[String] = {
    def boundary(tok: String) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (md.digest(tok.getBytes("UTF-8"))(0) & 0xff) % grain == 0
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = scala.collection.mutable.ArrayBuffer.empty[String]
    for (t <- text.trim.split("\\s+")) {
      cur += t
      if (boundary(t)) { out += cur.mkString(" "); cur.clear() }
    }
    if (cur.nonEmpty || out.isEmpty) out += cur.mkString(" ")
    out.toSeq
  }
}
