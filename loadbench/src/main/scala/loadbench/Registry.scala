package loadbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded `documents` table in the shape of the registry's fixture:
  * words drawn uniformly from a 30-word vocabulary, 10 to 99 words a
  * document, 20 round-robin sources, five languages, and one document in
  * twenty a copy of an earlier one with a ` dup` marker appended (the
  * near-duplicates the dedup family looks for). */
object Corpus {
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  // en about twice as often as each of the others, as in the fixture
  private val Langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")

  final case class Doc(id: Long, lang: String, source: String, text: String)

  def docs(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rng = new Gen.Rng(seed, 11)
    val out = scala.collection.mutable.ArrayBuffer[Doc]()
    for (i <- 0 until n) {
      val text =
        if (i > 0 && rng.nextInt(20) == 0) out(rng.nextInt(i)).text + " dup"
        else Seq.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      out += Doc(i, Langs(rng.nextInt(Langs.length)), s"src${i % 20}", text)
    }
    out.toIndexedSeq
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("n_chars", LongType), StructField("source", StringType),
    StructField("text", StringType)))

  /** Writes `dir/documents.parquet` as one file, as the fixture has it. */
  def write(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val rows = docs(seed, n).map(d =>
      Row(d.id, d.lang, d.text.length.toLong, d.source, d.text))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}

/** The registry batch: queries from `graft.SparkEntry.queries` over a
  * seeded corpus, run one after another with full materialization
  * (`collect`), optionally after an untimed warm pass of the same queries
  * over a smaller corpus in another directory (so no timed query reads a
  * memo the warm pass built). A query's time is its `build` (the builder runs
  * its eager jobs and memo builds, and returns a lazy DataFrame) plus the
  * collect. The answers are checked outside the JVM against each query's
  * DuckDB oracle (`graft.SparkEntry.oracleSql`) on the same corpus file. */
final class RegistryBatch(spark: SparkSession, seed: Long, dir: String,
    names: Seq[String], warm: Boolean) {
  import RegistryBatch._

  final case class Out(op: Op, buildMs: Double, execMs: Double, memoBuilds: Int,
      columns: Seq[String], rows: Seq[Row])

  /** Runs the warm pass, if any, and the batch; every timed query is one
    * operation of kind `batch`. */
  def run(rec: Recorder): Seq[Out] = {
    val queries = graft.SparkEntry.queries
    if (warm) {
      val w0 = System.nanoTime()
      Corpus.write(spark, s"$dir/warm", seed ^ 0x5EED, WarmDocs)
      names.foreach(n => queries(n)(spark, s"$dir/warm").collect())
      warmMs = (System.nanoTime() - w0) / 1e6
    }
    val g0 = System.nanoTime()
    Corpus.write(spark, dir, seed, Docs)
    genMs = (System.nanoTime() - g0) / 1e6
    names.map { name =>
      var out: (Double, Double, Int, Seq[String], Seq[Row]) = null
      rec.op("batch", name) {
        val m0 = graft.queries.PipelineQueries.memoBuildMark
        val t0 = System.nanoTime()
        val df = queries(name)(spark, dir)
        val t1 = System.nanoTime()
        val rows = df.collect().toSeq
        val t2 = System.nanoTime()
        out = ((t1 - t0) / 1e6, (t2 - t1) / 1e6,
          graft.queries.PipelineQueries.memoBuildMark - m0, df.columns.toSeq, rows)
        rows
      }(_ => 0L) { rows =>
        if (rows.isEmpty) throw new WrongAnswer(s"$name returned no rows")
      }
      val (b, e, mb, cols, rows) =
        if (out == null) (0.0, 0.0, 0, Nil, Nil) else out
      Out(rec.ops.last, b, e, mb, cols, rows)
    }
  }

  var genMs = 0.0
  var warmMs = 0.0
}

object RegistryBatch {
  /** The heavy half, run by `tsdb_ingest` (the batch-processing workload):
    * a release pipeline (URL canonicalization, paragraph split, template
    * and near-duplicate removal) with a memo build and many jobs. It runs
    * cold, as a one-off batch job does: a warm pass would cost as much as
    * the query itself, and the warm query's time spread more across runs
    * (0.20 of the median against 0.14 cold, five runs each). */
  val Heavy = Seq("q322_release_pipeline_v3")
  /** The tail, run by `tsdb_dashboard` (the interactive workload): short
    * queries bound by the per-query floor of planning and scheduling. They
    * run after a warm pass, as in a long-lived session; cold, the first
    * one's class loading (about 4 s) would outweigh the rest. */
  val Tail = Seq("q296_tokenizer_fertility", "q297_domain_quality_rollup",
    "q300_domain_split", "q302_domain_lang_coherence", "q311_template_catalog")
  def forWorkload(spark: SparkSession, seed: Long, dir: String, workload: String): RegistryBatch =
    if (workload == "tsdb_ingest") new RegistryBatch(spark, seed, dir, Heavy, warm = false)
    else new RegistryBatch(spark, seed, dir, Tail, warm = true)
  /** Corpus size. The DuckDB oracle of the heavy query grows about with
    * the square of the document count (2 s at 200 documents, 15 s at
    * 500), and it runs in every run's answer check. */
  val Docs = 200
  val WarmDocs = 40
}

/** Spark rows as JSON arrays, for the answer check outside the JVM. */
object RowJson {
  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.databind.node.ArrayNode

  def row(m: ObjectMapper, r: Row): ArrayNode = {
    val a = m.createArrayNode()
    (0 until r.length).foreach(i => add(m, a, r.get(i)))
    a
  }

  private def add(m: ObjectMapper, a: ArrayNode, v: Any): Unit = v match {
    case null => a.addNull()
    case x: Boolean => a.add(x)
    case x: Double => a.add(x)
    case x: Float => a.add(x.toDouble)
    case x: java.math.BigDecimal => a.add(x.doubleValue)
    case x: Long => a.add(x)
    case x: Int => a.add(x)
    case x: Short => a.add(x.toInt)
    case x: Byte => a.add(x.toInt)
    case x: String => a.add(x)
    case x: Row => a.add(row(m, x))
    case x: scala.collection.Seq[_] =>
      val n = a.addArray()
      x.foreach(add(m, n, _))
    case x => a.add(x.toString)
  }
}
