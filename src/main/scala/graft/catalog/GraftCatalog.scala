package graft.catalog

import graft.model._
import java.nio.file.{Files, Path, Paths}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import scala.jdk.CollectionConverters._

/** File-backed table catalog: one directory per table under the warehouse,
  * holding `_manifest.json` (schema + options + version + ingest sequence),
  * `data/` (parquet, optionally partitioned by time segment) and `_wal/`
  * (the engine's write-buffer log).
  *
  * Replaces the reference's catalog→schema→table hierarchy
  * (catalog/src/consts.rs: defaults horaedb/public) with a single default
  * database; the manifest carries the reference Schema fields
  * (common_types/src/schema.rs:633-655): columns, PK, timestamp key,
  * version.
  */
final class GraftCatalog(val warehouse: String) {
  private implicit val fmts: Formats = DefaultFormats

  Files.createDirectories(Paths.get(warehouse))

  def databaseName: String = "public"

  private def tableDir(name: String): Path = Paths.get(warehouse, name)
  private def manifestPath(name: String): Path = tableDir(name).resolve("_manifest.json")

  /** Data directory for a given compaction generation. Compaction writes the
    * rewritten table into the NEXT generation dir and flips the manifest
    * pointer, so readers never observe a half-rewritten directory. */
  def genDataDir(name: String, gen: Int): String =
    tableDir(name).resolve(if (gen == 0) "data" else s"data_g$gen").toString

  /** Current data directory (follows the manifest's compaction generation). */
  def dataDir(name: String): String =
    genDataDir(name, if (exists(name)) manifest(name).dataGen.getOrElse(0) else 0)

  /** Write-ahead log directory of a table's write buffer
    * (`TsdbEngine`'s memtable); outside every data generation. */
  def walDir(name: String): Path = tableDir(name).resolve("_wal")

  /** Streaming checkpoint root for a sink table — lives under the
    * warehouse (not a per-run temp dir) so a restarted stream resumes
    * from its persisted offsets/state, the WAL-recovery behavior the
    * engine's streaming ingest claims. `_checkpoints` carries no
    * `_manifest.json`, so [[list]] never mistakes it for a table. */
  def checkpointDir(table: String): String = {
    val p = Paths.get(warehouse, "_checkpoints", table)
    Files.createDirectories(p)
    p.toString
  }

  /** (current generation, sequence floor): rows with __seq below the floor
    * were physically deduped by the last compaction. */
  def compactionState(name: String): (Int, Long) = {
    val m = manifest(name)
    (m.dataGen.getOrElse(0), m.compactedSeq.getOrElse(0L))
  }

  /** Next unassigned ingest sequence (== number of batches ever reserved). */
  def nextSeqOf(name: String): Long = manifest(name).nextSeq

  /** Read-consistency fingerprint: any committed append, flush or
    * compaction flip changes it. A reader that wants to SKIP the dedup
    * window compares the fingerprint from before and after pinning its
    * file listing — equality proves no state transition committed across
    * the listing, closing the check-then-list race (appends reserve their
    * seq BEFORE files land, so a changed manifest is always visible by the
    * second look). */
  def readFingerprint(name: String): GraftCatalog.Fingerprint = synchronized {
    fingerprintOf(manifest(name))
  }

  /** The schema and the [[readFingerprint]] from one manifest read. */
  def readState(name: String): (TableSchema, GraftCatalog.Fingerprint) = synchronized {
    val m = manifest(name)
    (m.toSchema, fingerprintOf(m))
  }

  private def fingerprintOf(m: Manifest) =
    GraftCatalog.Fingerprint(m.dataGen.getOrElse(0), m.compactedSeq.getOrElse(0L), m.nextSeq)

  /** Flip the manifest to the new generation. The seq floor is the nextSeq
    * observed when the compaction SCAN started — a batch reserved after the
    * scan is not in the rewrite and must stay above the floor. `flushedSeq`,
    * when given, is the highest buffered sequence the new generation
    * stores: the write-ahead log's records up to it are no longer needed,
    * so the flip is fsynced before this returns. */
  def markCompacted(name: String, newGen: Int, seqFloor: Long,
      flushedSeq: Option[Long] = None): Unit = synchronized {
    val m = manifest(name)
    writeManifest(name, m.copy(dataGen = Some(newGen), compactedSeq = Some(seqFloor),
      flushedSeq = flushedSeq.orElse(m.flushedSeq)), durable = true)
  }

  /** Raise the next unreserved sequence to at least `seq` (fsynced):
    * write-ahead-log replay calls it, because [[reserveSeq]] does not
    * fsync and an OS crash can roll the counter back below a logged
    * write's sequence. */
  def raiseNextSeq(name: String, seq: Long): Unit = synchronized {
    val m = manifest(name)
    if (m.nextSeq < seq) writeManifest(name, m.copy(nextSeq = seq), durable = true)
  }

  /** The highest buffered sequence stored in Parquet (-1 when none):
    * write-ahead-log replay skips records at or below it. */
  def flushedSeq(name: String): Long = manifest(name).flushedSeq.getOrElse(-1L)

  def exists(name: String): Boolean = Files.exists(manifestPath(name))

  def list(): Seq[String] =
    if (!Files.exists(Paths.get(warehouse))) Nil
    else {
      val s = Files.list(Paths.get(warehouse))
      try s.iterator().asScala
        .filter(p => Files.exists(p.resolve("_manifest.json")))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close() // directory streams hold an fd until closed
    }

  /** Synchronized like every other manifest mutator: two concurrent
    * auto-creates (gRPC Write racing line-protocol ingest on the same new
    * table) must resolve to exactly one manifest write — the loser sees
    * `exists` and returns false (ifNotExists) instead of clobbering the
    * winner's schema. */
  def create(schema: TableSchema, ifNotExists: Boolean): Boolean = synchronized {
    if (exists(schema.name)) {
      if (ifNotExists) return false
      throw new IllegalStateException(s"table '${schema.name}' already exists")
    }
    Files.createDirectories(tableDir(schema.name))
    writeManifest(schema.name, Manifest(schema, nextSeq = 0L))
    true
  }

  def drop(name: String, ifExists: Boolean): Boolean = {
    if (!exists(name)) {
      if (ifExists) return false
      throw new IllegalStateException(s"table '$name' does not exist")
    }
    GraftCatalog.deleteRecursively(tableDir(name))
    true
  }

  def get(name: String): TableSchema = manifest(name).toSchema

  /** The next unreserved ingest sequence (no reservation) — a write
    * high-water mark for incremental consumers. */
  def peekSeq(name: String): Long = synchronized { manifest(name).nextSeq }

  /** Reserve `n` ingest sequence numbers; returns the first. The sequence
    * orders overwrite-mode duplicates (newest wins), standing in for the
    * reference's WAL sequence. */
  def reserveSeq(name: String, n: Long): Long = synchronized {
    val m = manifest(name)
    writeManifest(name, m.copy(nextSeq = m.nextSeq + n))
    m.nextSeq
  }

  def alterAddColumns(name: String, cols: Seq[ColumnSpec]): Unit = synchronized {
    val m = manifest(name)
    val s = m.toSchema
    cols.foreach { c =>
      if (s.columns.exists(_.name == c.name))
        throw new IllegalStateException(s"column '${c.name}' already exists in '$name'")
    }
    writeManifest(name,
      m.withSchema(s.copy(columns = s.columns ++ cols, version = s.version + 1)))
  }

  /** Idempotent auto-add for the engine's shared schema-inferring append
    * (`TsdbEngine.appendInferring`, which every ingest protocol calls):
    * columns already present — added by a racing writer between the
    * caller's schema read and this call — are skipped under the catalog
    * lock instead of failing the whole write. Returns the columns actually
    * added. */
  def alterAddColumnsIfAbsent(
      name: String, cols: Seq[ColumnSpec]): Seq[ColumnSpec] = synchronized {
    val known = manifest(name).toSchema.columns.map(_.name).toSet
    val fresh = cols.filterNot(c => known(c.name))
    if (fresh.nonEmpty) alterAddColumns(name, fresh)
    fresh
  }

  /** Apply first-flush sampling suggestions (engine/Sampler.scala): set the
    * sampled segment_duration and, when suggested, the re-ordered PK. The
    * reference records both as manifest meta edits at flush
    * (instance/flush_compaction.rs:355-400); a PK change bumps the schema
    * version like its MetaUpdate::AlterSchema. */
  def applySampling(
      name: String, pk: Option[Seq[String]], segmentDuration: String): Unit = synchronized {
    val m = manifest(name)
    val s = m.toSchema
    val next = s.copy(
      options = TableOptions.fromRaw(s.options.raw + ("segment_duration" -> segmentDuration)),
      sampledPrimaryKey = pk.map(_.toSeq).orElse(s.sampledPrimaryKey),
      version = if (pk.isDefined) s.version + 1 else s.version)
    writeManifest(name, m.withSchema(next))
  }

  def alterSetting(name: String, settings: Map[String, String]): Unit = synchronized {
    val m = manifest(name)
    val s = m.toSchema
    val merged = TableOptions.fromRaw(s.options.raw ++ settings).validated
    writeManifest(name, m.withSchema(s.copy(options = merged, version = s.version + 1)))
  }

  /** Reconstructed DDL for SHOW CREATE TABLE, in the reference's canonical
    * form (interpreters/src/show_create.rs:82-127 + show_create_table.result):
    * key columns first (tsid materialized for the implicit PK), then the rest
    * in declared order; `PRIMARY KEY(...)` before `TIMESTAMP KEY(...)`, key
    * names unquoted; `ENGINE=Analytic WITH(...)` with the full option map
    * (defaults included, sorted by name — table_options.rs to_raw_map).
    */
  def showCreate(name: String): String = {
    val s = get(name)
    val pk = s.primaryKey
    val cols = s.canonicalColumns.map { c =>
      val mods = new StringBuilder
      if (c.isTag) mods ++= " TAG"
      if (c.isDictionary) mods ++= " DICTIONARY"
      if (!c.isNullable) mods ++= " NOT NULL"
      // the stored default is SQL source text (string literals carry their
      // own quotes), so it round-trips verbatim; a bare null normalizes to
      // NULL as the reference prints it (show_create_table.result 06_show_b)
      c.defaultValue.foreach { d =>
        mods ++= s" DEFAULT ${if (d.trim.equalsIgnoreCase("null")) "NULL" else d}"
      }
      if (c.comment.nonEmpty) mods ++= s" COMMENT '${c.comment}'"
      s"`${c.name}` ${sqlTypeName(c.kind)}$mods"
    }
    val constraints = Seq(
      s"PRIMARY KEY(${pk.mkString(",")})",
      s"TIMESTAMP KEY(${s.timestampKey})")
    val partition = s.partitionBy.map {
      case PartitionByKey(ks, n) =>
        s" PARTITION BY KEY(${ks.mkString(",")}) PARTITIONS $n"
      case PartitionByHash(e, n) => s" PARTITION BY HASH($e) PARTITIONS $n"
      case PartitionByRandom(n)  => s" PARTITION BY RANDOM PARTITIONS $n"
    }.getOrElse("")
    val opts = " WITH(" + s.options.canonicalMap.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k='$v'" }.mkString(", ") + ")"
    s"CREATE TABLE `$name` (${(cols ++ constraints).mkString(", ")})" +
      s"$partition ENGINE=Analytic$opts"
  }

  private def sqlTypeName(k: DatumKind.Value): String = DatumKind.sqlName(k)

  /** Export a consistent table snapshot: the manifest plus the CURRENT
    * data generation, hard-linked where the filesystem allows (copy
    * fallback) — generation-flip atomicity means the current gen dir is
    * immutable once written, so a link-based snapshot is consistent
    * without quiescing writers (links pin the inodes even if a later
    * compaction GCs the directory entry). Older generations, checkpoints
    * and in-flight tmp files are not part of a snapshot. */
  def exportSnapshot(name: String, destDir: String): Unit = synchronized {
    val m = manifest(name)
    val dest = Paths.get(destDir)
    Files.createDirectories(dest)
    Files.copy(manifestPath(name), dest.resolve("_manifest.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val gen = m.dataGen.getOrElse(0)
    val src = Paths.get(genDataDir(name, gen))
    if (Files.isDirectory(src))
      GraftCatalog.linkTree(src, dest.resolve(src.getFileName))
  }

  /** Register a snapshot directory as a (new) table: data is linked/copied
    * into the warehouse and the manifest's table name rewritten — the
    * restore/clone half of [[exportSnapshot]] (also an environment-move:
    * snapshots are plain portable directories of parquet + one JSON). */
  def importSnapshot(srcDir: String, newName: String): Unit = synchronized {
    require(!exists(newName), s"table '$newName' already exists")
    val src = Paths.get(srcDir)
    val m = JsonMethods.parse(Files.readString(src.resolve("_manifest.json")))
      .extract[Manifest]
    Files.createDirectories(tableDir(newName))
    val gen = m.dataGen.getOrElse(0)
    val dataName = Paths.get(genDataDir(m.name, gen)).getFileName
    val srcData = src.resolve(dataName)
    if (Files.isDirectory(srcData))
      GraftCatalog.linkTree(srcData,
        Paths.get(genDataDir(newName, gen)))
    writeManifest(newName, m.copy(name = newName))
  }

  private def manifest(name: String): Manifest = {
    if (!exists(name)) throw new IllegalStateException(s"table '$name' does not exist")
    JsonMethods.parse(Files.readString(manifestPath(name))).extract[Manifest]
  }

  /** Replace the manifest atomically (tmp + rename). `durable` also
    * fsyncs the new file before the rename and the directory after it. */
  private def writeManifest(name: String, m: Manifest, durable: Boolean = false): Unit = {
    val tmp = manifestPath(name).resolveSibling("_manifest.json.tmp")
    Files.writeString(tmp, Serialization.writePretty(m))
    if (durable) GraftCatalog.sync(tmp)
    Files.move(tmp, manifestPath(name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    if (durable) GraftCatalog.sync(tmp.getParent)
  }
}

object GraftCatalog {
  /** A table's storage state as a reader sees it: the data generation,
    * the compaction sequence floor (rows below it are physically deduped)
    * and the next unreserved sequence. */
  final case class Fingerprint(dataGen: Int, compactedSeq: Long, nextSeq: Long)

  /** fsync a file or directory. */
  def sync(p: Path): Unit = {
    val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  /** fsync every file and directory under `root`, directories last. */
  def syncTree(root: Path): Unit = {
    val s = Files.walk(root)
    val (dirs, files) = try s.iterator().asScala.toSeq.partition(Files.isDirectory(_))
      finally s.close()
    files.foreach(sync)
    dirs.reverse.foreach(sync)
  }

  /** Recursive hard-link tree copy with per-file copy fallback (cross-
    * filesystem moves, filesystems without link support). */
  def linkTree(src: Path, dest: Path): Unit = {
    Files.createDirectories(dest)
    val s = Files.list(src)
    try s.iterator().asScala.foreach { p =>
      val t = dest.resolve(p.getFileName)
      if (Files.isDirectory(p)) linkTree(p, t)
      else if (!Files.exists(t)) {
        try Files.createLink(t, p)
        catch { case _: Throwable =>
          Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    } finally s.close()
  }

  /** Shared recursive delete (used by table drop and compaction GC). */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}

// manifest (de)serialization — top-level so json4s reflection works
private[catalog] final case class ColJson(name: String, kind: String, nullable: Boolean,
    tag: Boolean, dictionary: Boolean, comment: String, default: Option[String])
private[catalog] final case class PartJson(
    kind: String, columns: List[String], expr: String, partitions: Int)
private[catalog] final case class Manifest(
    name: String, columns: List[ColJson], timestampKey: String,
    primaryKey: Option[List[String]], options: Map[String, String],
    partition: Option[PartJson], version: Int, nextSeq: Long,
    // compaction state: current data-directory generation and the seq floor
    // below which rows are already physically deduped (absent = never
    // compacted; also keeps round-1 manifests readable)
    dataGen: Option[Int] = None, compactedSeq: Option[Long] = None,
    // PK suggested by first-flush cardinality sampling (engine/Sampler.scala)
    sampledPk: Option[List[String]] = None,
    // highest write-buffer sequence stored in Parquet (absent = none yet)
    flushedSeq: Option[Long] = None) {
  /** This manifest with schema `s`; sequence and storage state kept. */
  def withSchema(s: TableSchema): Manifest = Manifest(s, nextSeq)
    .copy(dataGen = dataGen, compactedSeq = compactedSeq, flushedSeq = flushedSeq)

  def toSchema: TableSchema = TableSchema(
    name,
    columns.map(c => ColumnSpec(c.name, DatumKind.withName(c.kind), c.nullable,
      c.tag, c.dictionary, c.comment, c.default)),
    timestampKey,
    primaryKey.map(_.toSeq),
    TableOptions.fromRaw(options),
    partition.map(p => p.kind match {
      case "key"    => PartitionByKey(p.columns, p.partitions)
      case "hash"   => PartitionByHash(p.expr, p.partitions)
      case "random" => PartitionByRandom(p.partitions)
    }),
    version,
    sampledPk.map(_.toSeq))
}
private[catalog] object Manifest {
  def apply(s: TableSchema, nextSeq: Long): Manifest = Manifest(
    s.name,
    s.columns.map(c => ColJson(c.name, c.kind.toString, c.isNullable, c.isTag,
      c.isDictionary, c.comment, c.defaultValue)).toList,
    s.timestampKey,
    s.explicitPrimaryKey.map(_.toList),
    s.options.raw,
    s.partitionBy.map {
      case PartitionByKey(ks, n) => PartJson("key", ks.toList, "", n)
      case PartitionByHash(e, n) => PartJson("hash", Nil, e, n)
      case PartitionByRandom(n)  => PartJson("random", Nil, "", n)
    },
    s.version, nextSeq, sampledPk = s.sampledPrimaryKey.map(_.toList))
}
