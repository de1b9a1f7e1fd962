package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Atomic multi-file table commits via a single-pointer manifest swap —
  * the public-knowledge protocol behind every manifest-committing table
  * format (Iceberg's snapshot pointer, Delta's `_last_checkpoint`,
  * Hive ACID's base/delta naming): data files are immutable and
  * write-once, a MANIFEST file lists exactly the files of one snapshot,
  * and "commit" is one atomic swap of a tiny pointer file. Readers
  * resolve pointer → manifest → file list and read ONLY those files, so
  * they can never observe a torn table: every file a manifest names was
  * fully written (and its manifest fully written) before the pointer
  * moved. Directory renames — which are copy+delete, hence non-atomic,
  * on object stores — never appear anywhere in the protocol; the only
  * rename is of the one-line pointer file, and on a real object store
  * that degrades to a single-object PUT, which is atomic per key.
  *
  * Layout under `dir`:
  * {{{
  *   CURRENT                      // one line: the current manifest's file name
  *   _manifests/manifest-<v>.txt  // one snapshot: a #schema line, header lines, data files
  *   data/<uuid>/part-*.parquet   // immutable data files, one subdir per commit
  * }}}
  * The manifest line format is documented once, beside its codec (see
  * "Manifest lines" below).
  *
  * Crash safety, step by step: a writer (1) writes data files into a
  * fresh `data/<uuid>/` nobody references, (2) writes the new manifest
  * under a temp name and renames it into `_manifests/`, (3) atomically
  * swaps `CURRENT` (temp file + `FileContext.rename(OVERWRITE)`, the
  * Hadoop API whose contract IS atomic replace on HDFS/POSIX). A crash
  * before (3) leaves orphan files that no reader resolves — the previous
  * snapshot stays intact and visible; [[vacuum]] sweeps orphans later.
  * [[StagedCommit]] exposes the (1)+(2) / (3) seam so tests can inject a
  * crash exactly between file publish and pointer swap.
  *
  * Concurrency: optimistic, Delta-style. Every operation reads ONE
  * snapshot (one resolution of `CURRENT`), and every commit claims a
  * fresh version slot by atomic create-if-absent, then [[publish]]
  * refuses the pointer swap unless the table is still at the snapshot
  * the commit was built from. A refused commit releases its slot and
  * whatever it staged; appends then rebase and retry, stats-bounded
  * rewrites re-run against the new snapshot, and the rest surface the
  * `ConcurrentModificationException`. The swap itself is check-then-
  * rename, so detection is exact only up to that window — closing it
  * needs the compare-and-swap the plain FileSystem API does not offer,
  * the piece Iceberg delegates to a catalog and Delta to a LogStore.
  *
  * Scale shape: commits move O(1) metadata regardless of table size;
  * readers list zero directories (the manifest replaces listing — on
  * object stores that also removes eventual-consistency LIST anomalies);
  * [[compact]] rewrites data files but still commits by pointer swap.
  */
object ManifestTable {

  private val PointerName = "CURRENT"

  /** A staged-but-unpublished snapshot. `basisVersion` is the snapshot
    * version the commit was BUILT AGAINST — the version whose file list
    * an append carried forward, or simply the current version at stage
    * time for a full-snapshot commit. [[publish]] refuses the pointer
    * swap unless the table is still at exactly `basisVersion`: a slot
    * number alone cannot prove freshness (two writers staging off v4
    * claim slots 5 and 6; publishing 6 after 5 would silently drop 5's
    * files), so the basis — not the slot — is what the optimistic
    * concurrency check compares. */
  final case class StagedCommit(version: Long, manifestName: String, basisVersion: Long)

  /** Data files already written for a commit, before any manifest
    * exists: dir-relative paths plus their encoded stats lines, the
    * batch schema, and the dir-relative `data/<uuid>` directory they were
    * written into. The append retry loop re-stages MANIFESTS from this,
    * never the data — files are immutable and commit-agnostic, so a
    * refused publish costs one tiny manifest rewrite, not a re-write of
    * the batch. */
  final case class StagedData(
      rel: Seq[String], statsLines: Seq[String], schemaJson: String, dataDir: String)

  /** Per-(data file, column) min/max/null-count recorded in the manifest
    * at commit time — the data-skipping statistics every manifest table
    * format carries (Delta's per-file `stats` JSON, Iceberg's manifest
    * `lower_bounds`/`upper_bounds`). `min`/`max` are string-encoded in
    * the column's natural order; `dtype` says how to decode
    * (int32/int64/float/double/string). */
  final case class ColStats(
      file: String,
      column: String,
      dtype: String,
      min: Option[String],
      max: Option[String],
      nullCount: Long)

  // This class's local-FS I/O (pointers, manifests, sidecars) is guarded
  // by ATOMIC RENAME, not by Hadoop's local-FS .crc sidecars — and the
  // sidecar is actively harmful here: LOCAL ChecksumFileSystem replaces a
  // file and its .crc non-atomically, so concurrent pointer swaps (or a
  // reader racing one) throw spurious ChecksumExceptions. It therefore
  // runs on a PRIVATE RawLocalFileSystem (no checksum machinery at all)
  // rather than mutating the JVM-WIDE CACHED LocalFileSystem that
  // Path.getFileSystem returns: calling setWriteChecksum(false) on that
  // shared instance (the pre-r13 behavior) leaked "no checksums" to every
  // local-FS user in the process — Spark's own data I/O and any embedding
  // application included. HDFS and object stores are not
  // ChecksumFileSystems and keep their own integrity machinery, so they
  // use the normal cached instance untouched.
  //
  // FIRST-CONF-WINS, by design (r13 ADVICE asked this be explicit): the
  // private raw FS is initialized once per JVM from whichever session's
  // hadoopConfiguration reaches fs() first; later sessions with different
  // local-FS settings share it. The only conf this FS handle consults
  // are local-FS byte-stream knobs (buffer size, umask) whose values are
  // immaterial here — the atomicity guarantees come from POSIX rename /
  // createLink semantics, not configuration. The one behavioral flag
  // read through an FS handle (`graft.manifest.assumeAtomicRename`, in
  // createExclusive) is only consulted on NON-local schemes, where fs()
  // returns Hadoop's own cached instance, never this private one. A
  // per-conf FS pool here would re-introduce the identity-leak and
  // unbounded-growth problems of Hadoop's JVM-wide cache for zero
  // behavioral difference.
  private val rawLocalFs =
    new java.util.concurrent.atomic.AtomicReference[FileSystem]()
  private def fs(dir: String, spark: SparkSession): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    new Path(dir).getFileSystem(conf) match {
      case _: org.apache.hadoop.fs.LocalFileSystem =>
        val cached = rawLocalFs.get()
        if (cached != null) cached
        else {
          val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
          raw.initialize(java.net.URI.create("file:///"), conf)
          if (rawLocalFs.compareAndSet(null, raw)) raw else rawLocalFs.get()
        }
      case other => other
    }
  }

  private def readSmallFile(f: FileSystem, p: Path): String = {
    // Hadoop's checksummed LOCAL filesystem replaces a file and its .crc
    // sidecar non-atomically, so a reader racing a pointer swap can
    // transiently see new bytes against the old checksum. The condition
    // heals on re-read (the swap itself is atomic); retry briefly
    // instead of surfacing a spurious ChecksumException. Object stores
    // have no sidecar and never take this path.
    var attempt = 0
    while (true) {
      try {
        val in = f.open(p)
        try {
          val bos = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
          return new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt >= 20) throw e
          Thread.sleep(5L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The pointer swap: move `tmp` over `dst` ATOMICALLY. On HDFS and
    * object-store filesystems `FileContext.rename(OVERWRITE)` is the
    * atomic primitive; on the LOCAL filesystem it is NOT — ChecksumFs
    * implements overwrite as delete-then-rename, so a concurrent
    * swapper can observe "destination already exists" (its sibling's
    * rename landed inside the window) and a reader can observe NO
    * pointer at all. For file:// the swap therefore goes through
    * java.nio `ATOMIC_MOVE + REPLACE_EXISTING`, which the local kernel
    * rename(2) makes genuinely atomic. */
  private def swapInto(spark: SparkSession, f: FileSystem,
      tmp: Path, dst: Path): Unit = {
    val qt = f.makeQualified(tmp)
    val qd = f.makeQualified(dst)
    if (qt.toUri.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(qt.toUri.getPath),
        java.nio.file.Paths.get(qd.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } else {
      val fc = FileContext.getFileContext(
        qd.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(qt, qd, Options.Rename.OVERWRITE)
    }
  }

  private def writeSmallFile(f: FileSystem, p: Path, content: String): Unit = {
    val out = f.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The current snapshot version, or -1 for an empty/uninitialised dir. */
  def currentVersion(spark: SparkSession, dir: String): Long =
    pointerVersion(fs(dir, spark), dir)

  // The version CURRENT names, -1 before the first commit: what
  // [[publish]]'s basis check compares, and where a slot claim starts.
  // Every other reader resolves a whole [[Snapshot]] instead.
  private def pointerVersion(f: FileSystem, dir: String): Long = {
    val ptr = new Path(dir, PointerName)
    if (!f.exists(ptr)) -1L
    else versionOf(readSmallFile(f, new Path(dir, PointerName)).trim)
  }

  private def manifestName(version: Long): String = f"manifest-$version%020d.txt"

  private def versionOf(manifestName: String): Long =
    manifestName.stripPrefix("manifest-").stripSuffix(".txt").toLong

  private def manifestPath(dir: String, name: String): Path =
    new Path(new Path(dir, "_manifests"), name)

  // ---- Manifest lines ------------------------------------------------
  //
  // A manifest is UTF-8 text, one item per line, written by
  // [[manifestText]] in a fixed order: the `#schema=` line, then the
  // header lines sorted, then the data-file lines sorted. A data-file line
  // is a path relative to the table dir (`data/<uuid>/part-….parquet`);
  // every header line is `#<kind>=<fields>`, fields `|`-separated, free
  // text base64-encoded (b64) so it can hold neither `|` nor a newline:
  //
  //   #schema=<StructType json>                     the schema every read takes
  //   #stats=<rel>|<col>|<dtype>|<min|->|<max|->|<nulls>  per file, per column
  //   #size=<rel>|<bytes>|<rows>                    per file
  //   #bloom=<rel>|<col>|<k>|<mBits>|<sparse words> per file ([[addBloom]])
  //   #ndv=<rel>|<col>|<k>|<hashes>                 per file ([[addNdvSketch]])
  //   #dv=<rel>                                     a deletion-vector sidecar
  //   #check=<spec>                                 a CHECK constraint
  //   #unique=<col>                                 a UNIQUE key
  //   #indexof=<source dir>|<source version>        a derived table's source
  //   #meta=<key>|<value>                           table metadata
  //   #streambatch=<stream id>|<batch id>           a stream's last batch
  //
  // (<rel>, <col>, <min>, <max>, <spec>, <key>, <value>, <stream id>,
  // <source dir> and the sparse words / hash lists are b64.) Readers
  // ignore a header kind they do not know. Each kind's codec and meaning
  // sit beside it below; which kinds a commit carries from its basis is
  // the carry table after [[headerRel]].

  /** One resolution of CURRENT: the manifest it named, parsed once. Every
    * public read works from exactly one of these, and so does every
    * attempt of every write, so no operation can mix two snapshots (a
    * compaction landing between two pointer reads would otherwise drop
    * the first read's deletion vectors). `headers` excludes `#schema`;
    * `schema` is the one schema every read of the snapshot's files
    * takes. */
  private final case class Snapshot(
      name: String,
      version: Long,
      schemaLine: String,
      headers: Seq[String],
      rels: Seq[String]) {
    lazy val schema: StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaLine.stripPrefix("#schema="))
        .asInstanceOf[StructType]
    def files(dir: String): Seq[String] = rels.map(rel => new Path(dir, rel).toString)
    def dvRels: Seq[String] =
      headers.filter(_.startsWith("#dv=")).map(l => unb64(l.stripPrefix("#dv=")))
    def stats: Seq[ColStats] =
      headers.filter(_.startsWith("#stats=")).flatMap(parseStatsLine)
    def sizes: Seq[(String, Long, Long)] =
      headers.filter(_.startsWith("#size=")).flatMap(parseSizeLine)
    /** The answer of a write that commits nothing. */
    def unchanged: StagedCommit = StagedCommit(version, name, version)
  }

  private def manifestAt(f: FileSystem, dir: String, name: String): Snapshot = {
    val lines = readSmallFile(f, manifestPath(dir, name))
      .split('\n').iterator.map(_.trim).filter(_.nonEmpty).toSeq
    val (headers, rels) = lines.partition(_.startsWith("#"))
    val (schema, rest) = headers.partition(_.startsWith("#schema="))
    Snapshot(name, versionOf(name), schema.headOption.getOrElse(
        throw new IllegalStateException(s"manifest $name in $dir has no #schema line")),
      rest, rels)
  }

  /** The current snapshot — one pointer read, one manifest read — or None
    * for an uninitialised dir. */
  private def snapshot(f: FileSystem, dir: String): Option[Snapshot] =
    if (!f.exists(new Path(dir, PointerName))) None
    else Some(manifestAt(f, dir, readSmallFile(f, new Path(dir, PointerName)).trim))

  // the current snapshot of a table that must exist
  private def current(spark: SparkSession, dir: String): Snapshot =
    table(snapshot(fs(dir, spark), dir), dir)

  private def table(snap: Option[Snapshot], dir: String): Snapshot =
    snap.getOrElse(throw new IllegalArgumentException(
      s"requirement failed: not a manifest table (no $PointerName): $dir"))

  // the manifest of committed version `v`, refused cleanly once vacuumed
  private def committedVersion(f: FileSystem, dir: String, v: Long): Snapshot =
    manifestAt(f, dir, requireVersion(f, dir, v))

  private def requireVersion(f: FileSystem, dir: String, v: Long): String = {
    val name = manifestName(v)
    require(f.exists(manifestPath(dir, name)),
      s"version $v not found (vacuumed, or never committed) in $dir")
    name
  }

  // #schema=<StructType json> — required: a manifest without it is refused
  // at parse. New content brings its own; an append or a rewrite of the
  // same columns keeps its basis's line, so the column order holds.
  private def schemaLineOf(sd: StagedData): String = s"#schema=${sd.schemaJson}"

  /** A manifest's text — the one place it is assembled (the order the
    * "Manifest lines" block documents). */
  private def manifestText(
      schemaLine: String, headers: Seq[String], rels: Seq[String]): String =
    ((schemaLine +: headers.sorted) ++ rels.sorted).mkString("\n")

  // #dv=<b64 rel> — one DELETION-VECTOR sidecar (a tiny parquet of
  // (_file: string rel, _pos: long row index) pairs) whose positions are
  // subtracted from every read of this snapshot. Carried forward
  // verbatim by append/merge/replace; dropped by full-snapshot commits
  // (compaction materializes the deletes).
  private def dvLineOf(rel: String): String = s"#dv=${b64(rel)}"

  // the data file a PER-FILE header line describes, or None for
  // table-level headers
  private def headerRel(l: String): Option[String] =
    if (l.startsWith("#stats=")) parseStatsLine(l).map(_.file)
    else if (l.startsWith("#bloom=")) parseBloomLine(l).map(_._1)
    else if (l.startsWith("#ndv=")) parseNdvLine(l).map(_._1)
    else if (l.startsWith("#size=")) parseSizeLine(l).map(_._1)
    else None

  // ---- The carry table: which basis headers a new manifest keeps -----
  //
  // Per-file kinds carry only for the files the new manifest keeps; every
  // other listed kind carries verbatim; unlisted kinds are dropped.
  private val PerFileKinds = Set("#stats=", "#size=", "#bloom=", "#ndv=")
  // same content, or more of it — appends, header-only commits, the
  // stats-bounded rewrites, restore
  private val CarryAll = PerFileKinds ++
    Set("#dv=", "#check=", "#unique=", "#indexof=", "#streambatch=", "#meta=")
  // the same rows in new files — compactions: the constraints, the source
  // binding, the landed stream batches and the metadata all still hold;
  // the deletion vectors were materialized
  private val CarryLayout =
    Set("#check=", "#unique=", "#indexof=", "#streambatch=", "#meta=")
  // arbitrary new content — a plain commit keeps only its constraints
  private val CarryConstraints = Set("#check=", "#unique=")
  // new derived content under a new binding — commitIndex
  private val CarryChecks = Set("#check=")

  private def carried(
      s: Snapshot, kinds: Set[String], keepRel: String => Boolean = _ => true)
      : Seq[String] =
    s.headers.filter { l =>
      val kind = l.substring(0, l.indexOf('=') + 1)
      kinds(kind) && (!PerFileKinds(kind) || headerRel(l).exists(keepRel))
    }

  /** The dir-relative paths ('data/<uuid>/…parquet') the file-scan
    * metadata column resolves to: every data file lives under one
    * `data/` root, so the suffix after the LAST '/data/' is the rel path
    * regardless of scheme/qualification. Used identically when WRITING a
    * deletion vector and when anti-joining it at read, so the two sides
    * can never disagree. */
  private def relOfFilePath(fileCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, lit, substring_index}
    concat(lit("data/"), substring_index(fileCol, "/data/", -1))
  }

  /** Subtract a snapshot's deletion vectors from `base` (a file-scan
    * frame over that snapshot's data files): anti-join on (file rel, row
    * index) via the parquet scan's `_metadata` column. Vectors are tiny
    * relative to the table — broadcast, so the read plan stays a narrow
    * scan + broadcast anti-join (this is exactly how merge-on-read
    * position deletes execute in Delta/Iceberg readers). */
  private def applyDv(
      spark: SparkSession,
      dir: String,
      base: DataFrame,
      dvRels: Seq[String]): DataFrame =
    if (dvRels.isEmpty) base
    else livePositions(spark, dir, base, dvRels)
      .drop("__graft_dv_rel", "__graft_dv_pos")

  // `base` keyed by (file rel, row index) — `__graft_dv_rel`,
  // `__graft_dv_pos` — minus the positions `dvRels` already delete: the
  // rows a new deletion vector may still name
  private def livePositions(
      spark: SparkSession,
      dir: String,
      base: DataFrame,
      dvRels: Seq[String]): DataFrame = {
    val keyed = keyedByPosition(base)
    if (dvRels.isEmpty) keyed
    else {
      val dv = readDv(spark, dir, dvRels)
      keyed.join(org.apache.spark.sql.functions.broadcast(dv),
        keyed("__graft_dv_rel") === dv("_file") &&
          keyed("__graft_dv_pos") === dv("_pos"),
        "left_anti")
    }
  }

  private def keyedByPosition(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    base
      .withColumn("__graft_dv_rel", relOfFilePath(col("_metadata.file_path")))
      .withColumn("__graft_dv_pos", col("_metadata.row_index"))
  }

  // The reader of `s`'s data files: under its committed schema, so no
  // read opens a footer to infer one (Spark's inference is a job of its
  // own), every file resolves its columns by name, and a read of no files
  // is the empty frame of that schema.
  private def reader(spark: SparkSession, s: Snapshot) = spark.read.schema(s.schema)

  // the fixed schema of every deletion-vector sidecar ([[writeDv]])
  private val DvSchema = StructType.fromDDL("_file string, _pos bigint")

  private def readDv(spark: SparkSession, dir: String, dvRels: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(dvRels.map(r => new Path(dir, r).toString): _*)

  // a read of `s`'s `files` (absolute paths, `s`'s data files or a
  // subset, maybe none) with its deletion vectors subtracted
  private def readFiles(
      spark: SparkSession, dir: String, s: Snapshot, files: Seq[String]): DataFrame =
    applyDv(spark, dir, reader(spark, s).parquet(files: _*), s.dvRels)

  private def readSnapshot(spark: SparkSession, dir: String, s: Snapshot): DataFrame =
    readFiles(spark, dir, s, s.files(dir))

  private def parquetRowCount(
      conf: org.apache.hadoop.conf.Configuration, p: Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try r.getRecordCount finally r.close()
  }

  // #size=<b64 rel>|<bytes>|<rows> — recorded at commit so compaction
  // planning ([[planCompaction]]) reads file sizes from the manifest
  // alone, no per-file metadata RPCs against the store
  private def sizeLineOf(rel: String, bytes: Long, rows: Long): String =
    s"#size=${b64(rel)}|$bytes|$rows"

  private def parseSizeLine(l: String): Option[(String, Long, Long)] =
    l.stripPrefix("#size=").split('|') match {
      case Array(rel, bytes, rows) => Some((unb64(rel), bytes.toLong, rows.toLong))
      case _ => None
    }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  // #stats=<b64 rel>|<b64 col>|<dtype>|<b64 min or ->|<b64 max or ->|<nulls>
  private def statsLine(cs: ColStats): String =
    s"#stats=${b64(cs.file)}|${b64(cs.column)}|${cs.dtype}|" +
      s"${cs.min.map(b64).getOrElse("-")}|${cs.max.map(b64).getOrElse("-")}|" +
      s"${cs.nullCount}"

  private def parseStatsLine(l: String): Option[ColStats] =
    l.stripPrefix("#stats=").split('|') match {
      case Array(rel, c, dt, mn, mx, nulls) =>
        Some(ColStats(unb64(rel), unb64(c), dt,
          if (mn == "-") None else Some(unb64(mn)),
          if (mx == "-") None else Some(unb64(mx)),
          nulls.toLong))
      case _ => None
    }

  /** Unsigned-byte (UTF-8) string order — the order parquet BINARY
    * statistics are computed in. Java's String compare is UTF-16
    * code-unit order, which diverges on supplementary characters, so
    * every stats comparison on string columns goes through this. */
  private def utf8Lte(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  /** Footer-only per-column min/max for one freshly written data file —
    * row-group statistics merged across blocks; no data pages touched.
    * Columns whose physical type has no totally-ordered string encoding
    * here (INT96, fixed-len decimals, nested paths) are simply omitted —
    * pruning treats a missing stat as "cannot skip".
    *
    * A chunk that CONTAINS rows but carries no min/max — parquet writers
    * legitimately drop statistics (e.g. for oversized binary values) —
    * POISONS the column for the whole file: recording only the other
    * chunks' bounds would understate the true range and let
    * [[pruneByRange]]/[[pruneByEquals]] skip a file that holds matching
    * rows (a silent row loss on reads, a silent non-erasure on
    * [[deleteWhere]]). Absent min/max is only trusted as "no non-null
    * values" when the null count PROVES it (numNulls == valueCount).
    *
    * The file's record count comes from the SAME footer open — staging
    * reads every new file's footer anyway, and a second
    * `ParquetFileReader.open` per file just for the row count measurably
    * lengthened the driver-side commit path on multi-file stages (r14
    * optimization round: two ~0.5 s gaps in ingest_manifest_txn's steady
    * pass were exactly the 2×32 footer opens of its two 32-file
    * commits). */
  private def footerStatsRows(
      conf: org.apache.hadoop.conf.Configuration,
      file: Path,
      rel: String): (Seq[ColStats], Long) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      import scala.jdk.CollectionConverters._
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, (String, Option[String], Option[String], Long)]
      val poisoned = scala.collection.mutable.Set.empty[String]
      for {
        block <- reader.getFooter.getBlocks.asScala
        chunk <- block.getColumns.asScala
        colName = chunk.getPath.toDotString
        if !colName.contains(".")
      } {
        val st: org.apache.parquet.column.statistics.Statistics[_] =
          chunk.getStatistics
        val prim = chunk.getPrimitiveType
        val dtype = prim.getPrimitiveTypeName match {
          case INT32 => Some("int32")
          case INT64 => Some("int64")
          case FLOAT => Some("float")
          case DOUBLE => Some("double")
          case BINARY
            if prim.getLogicalTypeAnnotation.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
            Some("string")
          case _ => None
        }
        dtype.foreach { dt =>
          val valueCount = chunk.getValueCount
          val provablyAllNull = st != null && st.isNumNullsSet &&
            st.getNumNulls == valueCount
          val statsDropped = valueCount > 0L &&
            (st == null || (!st.hasNonNullValue && !provablyAllNull))
          if (statsDropped) {
            poisoned += colName
            acc.remove(colName): Unit
          } else if (!poisoned.contains(colName)) {
            val (mn, mx) =
              if (st == null || !st.hasNonNullValue) (None, None)
              else if (dt == "string") {
                val s = st.asInstanceOf[
                  org.apache.parquet.column.statistics.BinaryStatistics]
                (Some(s.genericGetMin.toStringUsingUTF8),
                  Some(s.genericGetMax.toStringUsingUTF8))
              }
              else (Some(st.genericGetMin.toString), Some(st.genericGetMax.toString))
            val nulls = if (st != null && st.isNumNullsSet) st.getNumNulls else 0L
            acc.get(colName) match {
              case None => acc(colName) = (dt, mn, mx, nulls)
              case Some((dt0, mn0, mx0, n0)) =>
                def merge(a: Option[String], b: Option[String], takeMin: Boolean) =
                  (a, b) match {
                    case (Some(x), Some(y)) =>
                      val less =
                        if (dt0 == "string") utf8Lte(x, y)
                        else x.toDouble <= y.toDouble
                      Some(if (less == takeMin) x else y)
                    // one side all-null/empty: the other side's bound IS
                    // the chunk-union bound (dropped stats never reach
                    // here — they poison the column above)
                    case (x, y) => x.orElse(y)
                  }
                acc(colName) =
                  (dt0, merge(mn0, mn, takeMin = true),
                    merge(mx0, mx, takeMin = false), n0 + nulls)
            }
          }
        }
      }
      (acc.iterator.map { case (c, (dt, mn, mx, n)) =>
        ColStats(rel, c, dt, mn, mx, n)
      }.toSeq, reader.getRecordCount)
    } finally reader.close()
  }

  /** Nullability- and order-insensitive schema compatibility: the same
    * (name → type) set. Appending a batch whose columns differ would make
    * reads silently resolve against whichever file the scan samples
    * first — the failure mode this guard turns into a loud error. */
  private def requireSameSchema(
      current: Option[StructType], incoming: StructType, op: String): Unit =
    current.foreach { cur =>
      def canon(st: StructType) =
        st.fields.map(fd => fd.name -> fd.dataType.catalogString).sortBy(_._1).toSeq
      require(canon(cur) == canon(incoming),
        s"$op schema mismatch: table has ${canon(cur).mkString(", ")}; " +
          s"batch has ${canon(incoming).mkString(", ")}")
    }

  /** The schema the CURRENT snapshot was committed with (None for an
    * uninitialised dir). */
  def currentSchema(spark: SparkSession, dir: String): Option[StructType] =
    snapshot(fs(dir, spark), dir).map(_.schema)

  /** The data-file paths (absolute) of the current snapshot. */
  def currentFiles(spark: SparkSession, dir: String): Seq[String] =
    current(spark, dir).files(dir)

  /** Read the current snapshot — exactly the manifest's files, never a
    * directory listing, so concurrent commits/compactions are invisible.
    * Deletion-vector positions ([[deleteVectorWhere]]) are subtracted. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readSnapshot(spark, dir, current(spark, dir))

  /** Whether `dir` is an initialized manifest table (has a committed
    * CURRENT pointer) — the "does the first batch have anything to
    * probe" check. */
  def exists(spark: SparkSession, dir: String): Boolean =
    fs(dir, spark).exists(new Path(dir, PointerName))

  /** Step (1): write `df`'s data files into a fresh `data/<uuid>/` that
    * no manifest references, and compute their footer stats. No manifest
    * exists yet, no reader can resolve the files, and the result is
    * commit-agnostic — [[completeAppend]]'s rebase retry re-stages
    * manifests from one [[StagedData]] without ever rewriting data. */
  def stageData(spark: SparkSession, dir: String, df: DataFrame): StagedData =
    writeData(spark, dir, df.schema.json)(df.write.parquet(_))

  /** The one data-file writer: `write` puts files into a fresh
    * `data/<uuid>/` (the path it is given; partitioned writes nest them
    * one level deeper), and every parquet file it produced comes back
    * dir-relative with its footer stats and `#size` line — one footer
    * open per file gives both. */
  private def writeData(spark: SparkSession, dir: String, schemaJson: String)(
      write: String => Unit): StagedData = {
    val f = fs(dir, spark)
    val dataDir = new Path(new Path(dir, "data"), UUID.randomUUID().toString)
    write(dataDir.toString)
    val files = parquetUnder(f, dir, dataDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val statsRows = files.map { case (st, r) =>
      val (cs, rows) = footerStatsRows(conf, st.getPath, r)
      (cs.map(statsLine), sizeLineOf(r, st.getLen, rows))
    }
    StagedData(files.map(_._2), statsRows.flatMap(_._1) ++ statsRows.map(_._2),
      schemaJson, relOf(f, dir, dataDir))
  }

  // every .parquet file under `p`, recursively, with its dir-relative path
  private def parquetUnder(f: FileSystem, dir: String, p: Path)
      : Seq[(org.apache.hadoop.fs.FileStatus, String)] = {
    val it = f.listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(org.apache.hadoop.fs.FileStatus, String)]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) out += (st -> relOf(f, dir, st.getPath))
    }
    out.toSeq
  }

  private def relOf(f: FileSystem, dir: String, p: Path): String =
    f.makeQualified(p).toUri.getPath
      .stripPrefix(f.makeQualified(new Path(dir)).toUri.getPath).stripPrefix("/")

  /** Write the (`__graft_dv_rel`, `__graft_dv_pos`) positions of `rows`
    * ([[livePositions]]' keys) as ONE deletion-vector sidecar in a fresh
    * `data/<uuid>/`: that dir and the sidecar's rel, both dir-relative —
    * or None, the dir removed again, when no position was written. */
  private def writeDv(spark: SparkSession, dir: String, rows: DataFrame)
      : Option[(String, Seq[String])] = {
    import org.apache.spark.sql.functions.col
    val f = fs(dir, spark)
    val dvDir = new Path(new Path(dir, "data"), UUID.randomUUID().toString)
    // repartition(1), NOT coalesce(1): coalesce would collapse the
    // whole candidate scan + anti-join into one task, while the
    // repartition shuffle keeps the scan parallel and moves only the
    // tiny (file, pos) pairs to a single writer — preserving the
    // one-sidecar-per-delete minimality every future read pays for
    rows.select(col("__graft_dv_rel").as("_file"), col("__graft_dv_pos").as("_pos"))
      .repartition(1).write.parquet(dvDir.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = parquetUnder(f, dir, dvDir)
    if (files.map(x => parquetRowCount(conf, x._1.getPath)).sum == 0L) {
      f.delete(dvDir, true)
      None
    } else Some((relOf(f, dir, dvDir), files.map(_._2)))
  }

  /** Steps (1)+(2) of a full-snapshot commit of `df`: publish its data
    * files and manifest WITHOUT moving the pointer. Readers still resolve
    * the previous snapshot; [[publish]] later refuses the swap unless the
    * table is still at the version current on entry. */
  def stage(spark: SparkSession, dir: String, df: DataFrame): StagedCommit = {
    val basis = currentVersion(spark, dir)
    stageManifest(spark, dir, stageData(spark, dir, df), Nil, Nil, basis)
  }

  /** [[stage]] for an append of `df`: the manifest carries every file and
    * header of ONE snapshot of the table, which is also the basis
    * [[publish]] checks — the staged half of [[append]], for a caller that
    * publishes itself ([[commitTxn]]). The batch is validated against
    * that snapshot as [[append]] validates it. */
  def stageAppend(spark: SparkSession, dir: String, df: DataFrame): StagedCommit = {
    val snap = snapshot(fs(dir, spark), dir)
    validateAppendAt(spark, dir, snap, df, "stageAppend", unique = true)
    claimPut(spark, dir, appendPut(snap, stageData(spark, dir, df), identity, owned = true),
      snap.fold(-1L)(_.version))
  }

  /** Step (2) alone: claim a version slot for already-written data files
    * plus a carry list. Tiny (one small-file write) — the piece a rebase
    * repeats, never the data. */
  def stageManifest(
      spark: SparkSession,
      dir: String,
      sd: StagedData,
      carryForward: Seq[String],
      carryStats: Seq[String],
      basisVersion: Long
  ): StagedCommit =
    claimManifestSlot(spark, dir,
      manifestText(schemaLineOf(sd),
        carryStats ++ sd.statsLines, carryForward ++ sd.rel),
      basisVersion)

  /** Drop a staged-but-unpublished commit's manifest, releasing its
    * version slot (the data files stay until [[vacuum]] — they are
    * unreferenced orphans). Used by [[transact]] after a refused
    * [[publish]], and by any writer abandoning a staged commit. */
  def abandon(spark: SparkSession, dir: String, staged: StagedCommit): Unit = {
    fs(dir, spark).delete(manifestPath(dir, staged.manifestName), false): Unit
  }

  /** Write the manifest into the first FREE version slot at or above
    * current+1. The slot claim must be an atomic create-if-absent so two
    * concurrent writers can never stage the same version (the loser
    * claims the next slot): on HDFS that is `rename` WITHOUT overwrite
    * (atomic by contract); on local filesystems Hadoop's rename degrades
    * to POSIX rename(2), which silently REPLACES an existing destination
    * — so there the claim is a hard link (link(2) fails with EEXIST,
    * the same O_EXCL guarantee). Either way the content is fully written
    * before the name appears, so a manifest is either absent or complete
    * — never half a file list. */
  private def claimManifestSlot(
      spark: SparkSession, dir: String, content: String, basis: Long): StagedCommit = {
    val f = fs(dir, spark)
    val mdir = new Path(dir, "_manifests")
    f.mkdirs(mdir)
    var v = math.max(pointerVersion(f, dir), basis) + 1
    var attempts = 0
    while (true) {
      val name = manifestName(v)
      if (createExclusive(f, new Path(mdir, name), content))
        return StagedCommit(v, name, basis)
      v += 1
      attempts += 1
      require(attempts < 1000, s"cannot claim a manifest slot in $mdir")
    }
    throw new IllegalStateException("unreachable")
  }

  /** The atomic create-if-absent primitive both slot namespaces
    * ([[claimManifestSlot]], branch-pointer slots) are built on: the
    * content is fully written to a tmp name first, then the destination
    * name is CLAIMED — on HDFS by `rename` WITHOUT overwrite (atomic by
    * contract); on local filesystems, where Hadoop's rename degrades to
    * POSIX rename(2) (which silently replaces), by a hard link (link(2)
    * fails with EEXIST — the same O_EXCL guarantee). Either way a file
    * is either absent or complete, and exactly ONE concurrent claimant
    * of a name wins. */
  private def createExclusive(f: FileSystem, dst: Path, content: String): Boolean = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp.${UUID.randomUUID()}")
    writeSmallFile(f, tmp, content)
    val claimed =
      // f.getUri, not f.getScheme: RawLocalFileSystem (the metadata-I/O
      // instance fs() hands out on file://) inherits the unimplemented
      // base getScheme and throws
      if (f.getUri.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath),
            java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        // rename WITHOUT overwrite is the claim primitive — atomic on
        // HDFS/viewfs by contract. Object stores like S3A implement
        // rename as client-side exists-check + copy + delete, so two
        // racers can BOTH "win" the same name — which would silently
        // reintroduce the lost update this CAS exists to exclude.
        // Refuse those schemes outright: deployments there need the
        // catalog/LogStore piece the class doc describes (Delta's
        // S3 story is the same). A store whose rename genuinely fails
        // atomically on an existing destination can opt in via
        // graft.manifest.assumeAtomicRename=true.
        val scheme = f.getUri.getScheme
        require(scheme == "hdfs" || scheme == "viewfs" ||
          f.getConf.getBoolean("graft.manifest.assumeAtomicRename", false),
          s"scheme '$scheme' has no atomic fail-if-exists rename: the " +
            "exclusive-create claim would be exists-then-rename, which " +
            "two racers can both win. Use a catalog/LogStore for commits " +
            "on this store, or set graft.manifest.assumeAtomicRename=true " +
            "if the store's rename is genuinely atomic.")
        !f.exists(dst) && f.rename(tmp, dst)
      }
    f.delete(tmp, false)
    claimed
  }

  /** Step (3): the atomic pointer swap. After this returns, every new
    * reader resolves the staged snapshot; a crash before it leaves the
    * previous snapshot fully intact.
    *
    * Optimistic concurrency: the swap is refused unless the table is
    * still at exactly the staged commit's BASIS version — the snapshot
    * its carry list was read from. Comparing versions alone is not
    * enough: two appenders staging off v4 claim slots 5 and 6, and after
    * 5 publishes, 6 still "succeeds" the current version while its file
    * list never saw 5's files — the classic lost update, refused here in
    * BOTH interleavings. On refusal, [[abandon]] the staged commit and
    * re-stage against the new current ([[completeAppend]] automates
    * exactly that for commutative appends; plain-FileSystem deployments
    * cannot do better than detect — a true CAS needs the catalog /
    * LogStore piece the class doc describes). */
  def publish(spark: SparkSession, dir: String, staged: StagedCommit): Unit = {
    val f = fs(dir, spark)
    // never swap CURRENT to a void snapshot: a manifest that no longer
    // exists (vacuumed while the commit was in flight, or never staged)
    // must refuse here, not surface later as a dangling-file read error
    require(f.exists(manifestPath(dir, staged.manifestName)),
      s"staged manifest ${staged.manifestName} not found in $dir " +
        "(vacuumed while in flight, or never staged) — refusing to publish")
    val cur = pointerVersion(f, dir)
    if (cur != staged.basisVersion)
      throw new java.util.ConcurrentModificationException(
        s"table moved v${staged.basisVersion} -> v$cur after v${staged.version} " +
          "was staged — this commit is based on stale state; re-stage and retry")
    val ptrTmp = new Path(dir, s".$PointerName.tmp.${UUID.randomUUID()}")
    writeSmallFile(f, ptrTmp, staged.manifestName)
    swapInto(spark, f, ptrTmp, new Path(dir, PointerName))
  }

  /** What one attempt of a [[transact]] commits: a new manifest's
    * content (rendered by [[manifestText]]) plus the dir-relative paths
    * it staged that nothing else references — its `data/<uuid>` dirs, a
    * deletion-vector sidecar — which a refused publish deletes. */
  private final case class Put(
      schemaLine: String,
      headers: Seq[String],
      rels: Seq[String],
      staged: Seq[String] = Nil)

  // a manifest of `sd`'s files plus `carryRels` under `headers` and `sd`'s
  // own stats; `owned` when this attempt wrote `sd` (a refusal deletes it).
  // A batch [[requireSameSchema]] checked against a `basis` keeps the
  // basis schema line.
  private def putData(
      sd: StagedData, headers: Seq[String], carryRels: Seq[String], owned: Boolean,
      basis: Option[Snapshot] = None): Put =
    Put(basis.fold(schemaLineOf(sd))(_.schemaLine), headers ++ sd.statsLines,
      carryRels ++ sd.rel, if (owned) Seq(sd.dataDir) else Nil)

  private def claimPut(spark: SparkSession, dir: String, put: Put, basis: Long)
      : StagedCommit =
    claimManifestSlot(spark, dir, manifestText(put.schemaLine, put.headers, put.rels), basis)

  /** Test seam for the optimistic-commit paths: invoked between the slot
    * claim and the publish attempt of every [[transact]], so a spec can
    * inject a concurrent commit into exactly the stage→publish window.
    * Production value is a no-op. */
  private[graft] var onBeforePublish: () => Unit = () => ()

  /** The one commit path every table operation runs: per attempt, read
    * ONE snapshot (None before the first commit), build the new content
    * from it (`attempt` answers Left for a metadata no-op), claim a
    * version slot based on that snapshot, then [[publish]]. A refused
    * publish (another writer landed in between) releases the slot and
    * everything the attempt staged, and re-runs the WHOLE attempt —
    * prune, re-read, rewrite — against the new CURRENT, so the result is
    * always what a sequential execution would have produced (the
    * optimistic retry Delta/Iceberg writers run against their log). After
    * `retries` refusals the last one propagates; with 0 the first does. */
  private def transact(spark: SparkSession, dir: String, retries: Int)(
      attempt: Option[Snapshot] => Either[StagedCommit, Put]): StagedCommit = {
    val f = fs(dir, spark)
    var refusals = 0
    while (true) {
      val snap = snapshot(f, dir)
      attempt(snap) match {
        case Left(noCommit) => return noCommit
        case Right(put) =>
          val staged = claimPut(spark, dir, put, snap.fold(-1L)(_.version))
          onBeforePublish()
          try {
            publish(spark, dir, staged)
            return staged
          } catch {
            case e: java.util.ConcurrentModificationException =>
              // a refused publish is DEAD forever (the basis can never
              // match again): release its slot, so no reader of history
              // ever takes it for a commit, and whatever it staged
              abandon(spark, dir, staged)
              put.staged.foreach(rel => f.delete(new Path(dir, rel), true))
              refusals += 1
              if (refusals > retries) throw e
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Full-snapshot commit: stage, then swap. The table's content after
    * this call is exactly `df`. Registered CHECK constraints carry
    * forward and the incoming content must satisfy them. */
  def commit(spark: SparkSession, dir: String, df: DataFrame): StagedCommit =
    transact(spark, dir, 0)(commitAttempt(spark, dir, _, df))

  // a full-snapshot commit of `df` against `snap`: validated, carrying
  // only the constraints (arbitrary new content voids a staleness claim
  // and a landed-batch claim alike; rebind with [[commitIndex]] /
  // re-stamp with [[appendStamped]])
  private def commitAttempt(
      spark: SparkSession, dir: String, snap: Option[Snapshot], df: DataFrame)
      : Either[StagedCommit, Put] = {
    enforceChecks(snap, df)
    enforceUnique(spark, dir, snap, df, probeExisting = false)
    Right(putData(stageData(spark, dir, df),
      snap.toSeq.flatMap(carried(_, CarryConstraints)), Nil, owned = true))
  }

  /** Optimistic read-modify-write TRANSACTION over a whole-table
    * snapshot — the full-snapshot analogue of [[completeAppend]]'s
    * rebase loop, for NON-COMMUTATIVE updates (registry upserts, config
    * tables) where the loser must SEE the winner's rows before retrying:
    * compute the new content from the CURRENT snapshot and commit it
    * against that same snapshot; if another writer landed in between
    * (refused CAS), re-read — now including that writer's rows —
    * recompute, and retry, `maxRetries` attempts in all. `ifAbsent` seeds
    * the first read when the table does not exist yet (a genuine read
    * FAILURE still rethrows — existence is probed explicitly, never
    * inferred from an error). Each attempt re-runs the CHECK/UNIQUE
    * validation against its own content; a refused attempt's staged
    * snapshot is released, so retries leak no version slots. */
  def commitRebase(
      spark: SparkSession,
      dir: String,
      transform: DataFrame => DataFrame,
      ifAbsent: => DataFrame,
      maxRetries: Int = 20
  ): StagedCommit =
    transact(spark, dir, maxRetries - 1) { snap =>
      commitAttempt(spark, dir, snap,
        transform(snap.fold(ifAbsent)(readSnapshot(spark, dir, _))))
    }

  /** Name a committed snapshot — Iceberg's tag / Delta's "version as of
    * a name" governance shape: `_tags/<name>` holds the manifest file
    * name, set by the same tmp-write + atomic-overwrite-rename as the
    * CURRENT pointer (re-tagging is one atomic swap). Tags PIN
    * snapshots: [[vacuum]] never sweeps a tagged manifest or the files
    * it references, so "prod", "audit-2026Q3", "rollback-point" survive
    * history collapse — the retention contract a compliance pipeline
    * needs before it can vacuum at all. */
  def tag(spark: SparkSession, dir: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag names are [A-Za-z0-9._-]+: '$name'")
    val f = fs(dir, spark)
    val mName = requireVersion(f, dir, version)
    val tdir = new Path(dir, "_tags")
    f.mkdirs(tdir)
    val tmp = new Path(tdir, s".$name.tmp.${UUID.randomUUID()}")
    writeSmallFile(f, tmp, mName)
    swapInto(spark, f, tmp, new Path(tdir, name))
  }

  /** Every tag, name → pinned version. */
  def tags(spark: SparkSession, dir: String): Map[String, Long] = {
    val f = fs(dir, spark)
    val tdir = new Path(dir, "_tags")
    if (!f.exists(tdir)) Map.empty
    else f.listStatus(tdir).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .map { st =>
        st.getPath.getName -> versionOf(readSmallFile(f, st.getPath).trim)
      }.toMap
  }

  /** [[readVersion]] by tag name — deletion vectors of the pinned
    * snapshot apply, exactly as they did when it was CURRENT. */
  def readTag(spark: SparkSession, dir: String, name: String): DataFrame = {
    val f = fs(dir, spark)
    val p = new Path(new Path(dir, "_tags"), name)
    require(f.exists(p), s"tag '$name' not found in $dir")
    readVersion(spark, dir, versionOf(readSmallFile(f, p).trim))
  }

  /** Remove a tag (the snapshot itself stays until [[vacuum]]). */
  def dropTag(spark: SparkSession, dir: String, name: String): Unit = {
    val f = fs(dir, spark)
    f.delete(new Path(new Path(dir, "_tags"), name), false): Unit
  }

  // ---- branches: zero-copy write-audit-publish -------------------------
  //
  // `_branches/<name>/` is a directory of immutable POINTER SLOTS
  // `head-<seq>`, each holding two lines: the branch HEAD manifest name
  // and the BASE manifest name (CURRENT at branch creation). The live
  // state is the highest-seq slot; moving the branch CLAIMS slot seq+1
  // by atomic create-if-absent ([[createExclusive]]) — a true CAS: of
  // two appenders racing off the same head, exactly one lands and the
  // loser's claim FAILS (no check-then-rename window, unlike the main
  // CURRENT pointer, whose detect-only caveat the class doc states).
  // Branch commits claim version slots in the shared `_manifests/`
  // namespace but move only the BRANCH pointer, so main's readers never
  // see them; fast-forward publishes the whole branch with one CURRENT
  // swap — Iceberg's branch / Delta's shallow-clone-then-swap governance
  // shape, and the write-audit-publish (WAP) pattern: land a batch on a
  // branch, audit it with real reads, then make it visible atomically or
  // drop it. All zero-copy: a branch of a 100 TB table is a handful of
  // two-line files.

  private def branchDir(dir: String, name: String): Path = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"branch names are [A-Za-z0-9._-]+: '$name'")
    new Path(new Path(dir, "_branches"), name)
  }

  private def slotName(seq: Long): String = f"head-$seq%020d"
  private def slotSeq(n: String): Long = n.stripPrefix("head-").toLong

  /** Create branch `name` at the CURRENT snapshot (head = base = CURRENT).
    * Refused if the branch already exists — two concurrent creators race
    * on the slot-1 claim and exactly one wins. */
  def createBranch(spark: SparkSession, dir: String, name: String): Unit = {
    val f = fs(dir, spark)
    val cur = current(spark, dir).name
    val bd = branchDir(dir, name)
    // a directory with no claimed slot is a crashed create, not a
    // branch — recoverable; the slot-1 claim below still picks exactly
    // one winner among concurrent creators
    require(branchStateOpt(f, dir, name).isEmpty,
      s"branch '$name' already exists in $dir")
    f.mkdirs(bd)
    require(createExclusive(f, new Path(bd, slotName(1L)), s"$cur\n$cur"),
      s"branch '$name' already exists in $dir (lost the creation race)")
  }

  /** Every branch, name → (head version, base version). A directory
    * with no claimed slot (a creator crashed between mkdir and the
    * slot-1 claim) is not a branch yet and is skipped. */
  def branches(spark: SparkSession, dir: String): Map[String, (Long, Long)] = {
    val f = fs(dir, spark)
    val bdir = new Path(dir, "_branches")
    if (!f.exists(bdir)) Map.empty
    else f.listStatus(bdir).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
      .flatMap { st =>
        branchStateOpt(f, dir, st.getPath.getName).map { case (head, base, _) =>
          st.getPath.getName -> (versionOf(head), versionOf(base))
        }
      }.toMap
  }

  // (head manifest name, base manifest name, live slot seq) — the
  // highest-seq slot is the live state; seq feeds the CAS claim.
  // None when the directory is absent or holds no claimed slot.
  private def branchStateOpt(f: FileSystem, dir: String, name: String)
      : Option[(String, String, Long)] = {
    val bd = branchDir(dir, name)
    if (!f.exists(bd)) return None
    val slots = f.listStatus(bd).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("head-"))
    if (slots.isEmpty) return None
    val live = slots.maxBy(slotSeq)
    val Array(head, base) =
      readSmallFile(f, new Path(bd, live)).trim.split('\n').map(_.trim)
    Some((head, base, slotSeq(live)))
  }

  private def branchState(f: FileSystem, dir: String, name: String)
      : (String, String, Long) =
    branchStateOpt(f, dir, name).getOrElse(
      throw new IllegalArgumentException(
        s"requirement failed: branch '$name' not found in $dir"))

  /** Read branch `name`'s head snapshot (deletion vectors applied) —
    * the audit read of WAP, invisible to main's readers and vice versa. */
  def readBranch(spark: SparkSession, dir: String, name: String): DataFrame = {
    val f = fs(dir, spark)
    val (head, _, _) = branchState(f, dir, name)
    readSnapshot(spark, dir, manifestAt(f, dir, head))
  }

  /** Append `df` to branch `name`: carry the branch HEAD's file list and
    * headers, claim a fresh version slot, then CAS the BRANCH pointer
    * forward (main's CURRENT never moves). The head's CHECK constraints
    * validate the batch. Concurrency is a TRUE compare-and-swap — the
    * pointer move is an atomic create-if-absent claim of slot seq+1
    * ([[createExclusive]], the [[claimManifestSlot]] recipe): of two
    * appenders racing off the same head, exactly one lands; the loser's
    * claim fails, its staged manifest and data are released, and it gets a
    * ConcurrentModificationException to re-stage against the new head —
    * a stale-head append can NEVER silently overwrite a landed one
    * (stronger than main's CURRENT swap, whose detect-only caveat the
    * class doc states). */
  def appendToBranch(
      spark: SparkSession, dir: String, name: String, df: DataFrame): StagedCommit =
    appendToBranchWith(spark, dir, name, df, identity)

  /** [[appendToBranch]] stamped with a stream-batch idempotence marker
    * (see [[appendStamped]]): the branch batch and its `(streamId,
    * batchId)` marker land in the ONE slot claim, so a foreachBatch
    * replay is detectable via [[lastStreamBatchOnBranch]]. */
  def appendToBranchStamped(
      spark: SparkSession, dir: String, name: String, df: DataFrame,
      streamId: String, batchId: Long): StagedCommit =
    appendToBranchWith(spark, dir, name, df, stamp(_, streamId, batchId))

  private def appendToBranchWith(
      spark: SparkSession, dir: String, name: String, df: DataFrame,
      mapHeaders: Seq[String] => Seq[String]): StagedCommit = {
    val f = fs(dir, spark)
    val (head, base, seq) = branchState(f, dir, name)
    val h = manifestAt(f, dir, head)
    requireSameSchema(Some(h.schema), df.schema, "appendToBranch")
    enforceChecks(Some(h), df)
    val sd = stageData(spark, dir, df)
    val staged = claimPut(spark, dir, appendPut(Some(h), sd, mapHeaders, owned = true),
      h.version)
    // the CAS: claim the NEXT pointer slot; a failed claim means another
    // writer moved the branch after our head read — release the slot and
    // the staged batch, and let the caller retry
    if (!createExclusive(f, new Path(branchDir(dir, name), slotName(seq + 1)),
        s"${staged.manifestName}\n$base")) {
      abandon(spark, dir, staged)
      f.delete(new Path(dir, sd.dataDir), true)
      val (nowHead, _, _) = branchState(f, dir, name)
      throw new java.util.ConcurrentModificationException(
        s"branch '$name' moved $head -> $nowHead while staging; retry")
    }
    staged
  }

  /** Publish branch `name` to main — the WAP publish: one atomic CURRENT
    * swap to the branch head. Refused unless main is still at the
    * branch's BASE (a fast-forward; if main moved, the branch was built
    * against stale state — rebase by replaying its batches on a fresh
    * branch). The branch pointer stays (drop it when done). */
  def fastForward(spark: SparkSession, dir: String, name: String): StagedCommit = {
    val f = fs(dir, spark)
    val (head, base, _) = branchState(f, dir, name)
    val staged = StagedCommit(versionOf(head), head, versionOf(base))
    publish(spark, dir, staged) // basis check = "main still at base"
    staged
  }

  /** Remove a branch pointer — the WAP abort path: the branch's staged
    * snapshots become unreferenced and [[vacuum]] sweeps them; main never
    * saw anything. */
  def dropBranch(spark: SparkSession, dir: String, name: String): Unit = {
    val f = fs(dir, spark)
    f.delete(branchDir(dir, name), true): Unit
  }

  // #bloom=<b64 rel>|<b64 col>|<k>|<mBits>|<b64 sparse "word:hex,...">
  // — one PORTABLE per-file Bloom filter over a column's values, the
  // point-lookup complement to the min/max zone maps: range stats skip
  // nothing for a high-cardinality column scattered across files; the
  // bloom skips every file that provably lacks the value. Positions are
  // md5-derived (5 hex chars per hash) with 32-bit chunking, the same
  // engine-portable family as graft.ops.Corpus's Bloom ops.
  private final case class FileBloom(k: Int, mBits: Long, bits: Map[Long, Long])

  private def bloomLineOf(
      rel: String, column: String, fb: FileBloom): String = {
    val sparse = fb.bits.toSeq.sorted
      .map { case (w, b) => s"$w:${java.lang.Long.toHexString(b)}" }
      .mkString(",")
    s"#bloom=${b64(rel)}|${b64(column)}|${fb.k}|${fb.mBits}|${b64(sparse)}"
  }

  private def parseBloomLine(l: String): Option[(String, String, FileBloom)] =
    l.stripPrefix("#bloom=").split('|') match {
      case Array(rel, c, k, m, sparse) =>
        val bits = unb64(sparse).split(',').iterator.filter(_.nonEmpty).map { p =>
          val Array(w, h) = p.split(':')
          w.toLong -> java.lang.Long.parseUnsignedLong(h, 16)
        }.toMap
        Some((unb64(rel), unb64(c), FileBloom(k.toInt, m.toLong, bits)))
      case _ => None
    }

  private def bloomPositions(value: String, k: Int, mBits: Long): Seq[Long] = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    (0 until k).map(j =>
      java.lang.Long.parseLong(hex.substring(5 * j, 5 * j + 5), 16) % mBits)
  }

  /** Record a per-file Bloom filter over `column` for every current file
    * that lacks one — ONE metadata transaction (same data files, stats,
    * vectors; new `#bloom=` header lines). The build scans ONLY the
    * unbloomeed files once (per-file bit positions fold with a
    * map-side-combinable bit_or; the collected state is #files × a few
    * sparse words). Files appended later simply lack a bloom until the
    * next call — missing means "cannot skip", the stats contract.
    * Blooms are computed over raw file contents, so rows hidden by
    * deletion vectors can only cause a false KEEP, never a wrong skip. */
  def addBloom(
      spark: SparkSession,
      dir: String,
      column: String,
      words: Int = 64,
      k: Int = 4
  ): StagedCommit = {
    require(Integer.bitCount(words) == 1 && words <= (1 << 14),
      "words must be a power of two <= 16384 (bit positions are 20-bit)")
    require(k >= 1 && k <= 6, "k hashes draw 5 hex chars each from one md5")
    import org.apache.spark.sql.functions.{bit_or, explode, expr, shiftright}
    import org.apache.spark.sql.functions.{array, col, conv, md5, substring}
    transact(spark, dir, 0) { snap =>
      val s = table(snap, dir)
      val have = s.headers.filter(_.startsWith("#bloom="))
        .flatMap(parseBloomLine).filter(_._2 == column).map(_._1).toSet
      val todo = s.rels.filterNot(have)
      if (todo.isEmpty) Left(s.unchanged)
      else {
        val mBits = words.toLong * 64L
        val pos = array((0 until k).map { j =>
          conv(substring(md5(col(column).cast("string")), 1 + 5 * j, 5), 16, 10)
            .cast("long") % mBits
        }: _*)
        val rows = reader(spark, s)
          .parquet(todo.map(rel => new Path(dir, rel).toString): _*)
          .select(relOfFilePath(col("_metadata.file_path")).as("__rel"),
            explode(pos).as("__p"))
          .select(col("__rel"), shiftright(col("__p"), 5).as("__w"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(__p & 31 AS INT))").as("__m"))
          .groupBy(col("__rel"), col("__w")).agg(bit_or(col("__m")).as("__b"))
          .collect()
        val byRel = rows.groupBy(_.getString(0)).map { case (rel, rs) =>
          rel -> FileBloom(k, mBits,
            rs.map(r => r.getLong(1) -> r.getLong(2)).toMap)
        }
        val newLines = todo.flatMap(rel =>
          byRel.get(rel).map(fb => bloomLineOf(rel, column, fb)))
        Right(Put(s.schemaLine, carried(s, CarryAll) ++ newLines, s.rels))
      }
    }
  }

  /** Partition the current snapshot's files into (survivors, total) for
    * `column = value` using ONLY the manifest's Bloom headers — zero
    * footers or data opened. A file is skipped exactly when its bloom
    * provably lacks one of the value's bit positions; files with no
    * bloom for `column` are conservatively kept. This is the
    * point-lookup move min/max stats cannot make: a high-cardinality id
    * scattered across files has useless range stats, but each file's
    * bloom answers "certainly absent" for all but ~fp-rate of files. */
  def pruneByBloom(
      spark: SparkSession,
      dir: String,
      column: String,
      value: String): (Seq[String], Int) = {
    val s = current(spark, dir)
    (bloomKept(dir, s, column, value), s.rels.size)
  }

  private def bloomKept(
      dir: String, s: Snapshot, column: String, value: String): Seq[String] = {
    val blooms = s.headers.filter(_.startsWith("#bloom="))
      .flatMap(parseBloomLine).filter(_._2 == column)
      .map(t => t._1 -> t._3).toMap
    s.rels.filter { rel =>
      blooms.get(rel).forall { fb =>
        bloomPositions(value, fb.k, fb.mBits).forall { p =>
          (fb.bits.getOrElse(p >> 5, 0L) & (1L << (p & 31L).toInt)) != 0L
        }
      }
    }.map(rel => new Path(dir, rel).toString)
  }

  // #ndv=<b64 rel>|<b64 col>|<k>|<b64 "h1,h2,...">
  // — one K-MINIMUM-VALUES sketch per file over a column's values: the k
  // smallest 60-bit md5 hashes of the file's DISTINCT values. KMV merges
  // exactly (union the lists, keep the k smallest — identical to
  // sketching the union directly), so a TABLE-level distinct-count
  // estimate comes from the manifest alone, the statistic a cost-based
  // join planner wants without scanning 100 TB. Estimator: the classic
  // (k−1)·2^60 / h_k, exact below k distinct values.
  private def ndvLineOf(rel: String, column: String, k: Int, mins: Seq[Long]): String =
    s"#ndv=${b64(rel)}|${b64(column)}|$k|${b64(mins.mkString(","))}"

  private def parseNdvLine(l: String): Option[(String, String, Int, Seq[Long])] =
    l.stripPrefix("#ndv=").split('|') match {
      case Array(rel, c, k, mins) =>
        Some((unb64(rel), unb64(c), k.toInt,
          unb64(mins).split(',').iterator.filter(_.nonEmpty).map(_.toLong).toSeq))
      case _ => None
    }

  private def ndvSketches(s: Snapshot, column: String): Seq[(String, String, Int, Seq[Long])] =
    s.headers.filter(_.startsWith("#ndv=")).flatMap(parseNdvLine).filter(_._2 == column)

  /** Record a KMV distinct-count sketch over `column` for every current
    * file lacking one — ONE metadata transaction, like [[addBloom]]. The
    * build scans only the unsketched files; per file the k smallest
    * distinct hashes rank through a WindowGroupLimit (map-side partial
    * top-k), and the collected state is #files × k longs. */
  def addNdvSketch(
      spark: SparkSession,
      dir: String,
      column: String,
      k: Int = 64
  ): StagedCommit = {
    require(k >= 2, s"k must be at least 2: $k")
    import org.apache.spark.sql.functions.{col, collect_list, conv}
    import org.apache.spark.sql.functions.{md5, row_number, sort_array, substring}
    transact(spark, dir, 0) { snap =>
      val s = table(snap, dir)
      val have = s.headers.filter(_.startsWith("#ndv="))
        .flatMap(parseNdvLine).filter(_._2 == column).map(_._1).toSet
      val todo = s.rels.filterNot(have)
      if (todo.isEmpty) Left(s.unchanged)
      else {
        val h = conv(substring(md5(col(column).cast("string")), 1, 15), 16, 10)
          .cast("long")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__rel")).orderBy(col("__h").asc)
        val rows = reader(spark, s)
          .parquet(todo.map(rel => new Path(dir, rel).toString): _*)
          .select(relOfFilePath(col("_metadata.file_path")).as("__rel"),
            h.as("__h"))
          .distinct()
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k)
          .groupBy(col("__rel"))
          .agg(sort_array(collect_list(col("__h"))).as("__mins"))
          .collect()
        val newLines = rows.map(r => ndvLineOf(r.getString(0), column, k,
          r.getSeq[Long](1)))
        Right(Put(s.schemaLine, carried(s, CarryAll) ++ newLines, s.rels))
      }
    }
  }

  /** Table-level distinct-count estimate for `column` from the manifest
    * alone — merge every file's KMV sketch (union, keep k smallest),
    * apply the (k−1)·2^60 / h_k estimator (exact when the union holds
    * fewer than k distinct hashes). Returns (estimate, sketchedFiles,
    * totalFiles); files without a sketch contribute nothing, so trust
    * the estimate only at full coverage (run [[addNdvSketch]] after
    * appends, exactly like [[addBloom]]). */
  def estimateDistinct(
      spark: SparkSession,
      dir: String,
      column: String): (Double, Int, Int) = {
    val s = current(spark, dir)
    val sketches = ndvSketches(s, column)
    val total = s.rels.size
    if (sketches.isEmpty) return (0.0, 0, total)
    val k = sketches.map(_._3).min
    val merged = sketches.flatMap(_._4).distinct.sorted.take(k)
    val est =
      if (merged.size < k) merged.size.toDouble
      else (k - 1).toDouble * 1152921504606846976.0 / merged.last.toDouble
    (est, sketches.size, total)
  }

  /** Cross-table KEY-OVERLAP estimate from manifests alone — the
    * join-planning statistic (FK coverage, semi-join selectivity) for two
    * 100 TB tables without scanning either: merge each table's per-file
    * `#ndv=` KMV sketches into its table-level sketch (union, keep k
    * smallest — identical to sketching the column directly, the KMV merge
    * law), then the Beyer et al. set-operation estimators over the two
    * sketches: the k smallest of the combined hashes form the union
    * sketch M, K∩ = |{h ∈ M : h ∈ A ∧ h ∈ B}|, Jaccard = K∩/|M|,
    * |A ∩ B| ≈ J · |A ∪ B|ₑ. Every sketch below k is its column's exact
    * distinct hash set, so small-side estimates degrade to exact. Purely
    * driver-side integer/double arithmetic over ≤ 2k longs —
    * deterministic and engine-reproducible. Requires full sketch coverage
    * on both tables ([[addNdvSketch]] after appends) and equal k. */
  def estimateKeyOverlap(
      spark: SparkSession,
      dirA: String, colA: String,
      dirB: String, colB: String): Map[String, Double] = {
    def tableSketch(dir: String, column: String): (Seq[Long], Int) = {
      val s = current(spark, dir)
      val sketches = ndvSketches(s, column)
      val total = s.rels.size
      require(sketches.size == total,
        s"$dir: only ${sketches.size} of $total files carry a #ndv sketch " +
          s"for $column — run addNdvSketch after appends")
      val k = sketches.map(_._3).min
      (sketches.flatMap(_._4).distinct.sorted.take(k), k)
    }
    val (skA, kA) = tableSketch(dirA, colA)
    val (skB, kB) = tableSketch(dirB, colB)
    require(kA == kB, s"sketch sizes differ: $kA vs $kB")
    val k = kA
    def est(sk: Seq[Long]): Double =
      if (sk.size < k) sk.size.toDouble
      else (k - 1).toDouble * 1152921504606846976.0 / sk.last.toDouble
    val setA = skA.toSet
    val setB = skB.toSet
    val m = (skA ++ skB).distinct.sorted.take(k)
    val nBoth = m.count(h => setA(h) && setB(h))
    val jaccard = nBoth.toDouble / m.size
    val estUnion = est(m)
    Map(
      "est_a" -> est(skA),
      "est_b" -> est(skB),
      "est_union" -> estUnion,
      "jaccard_est" -> jaccard,
      "est_intersection" -> (jaccard * estUnion))
  }

  /** Bloom-pruned point lookup: `column = value` over only the files
    * [[pruneByBloom]] keeps (deletion vectors applied, the row filter
    * still evaluated). Equivalent to `read(...).filter(col === value)`
    * by construction — blooms have false positives, never negatives. */
  def readWhereEqualsBloom(
      spark: SparkSession,
      dir: String,
      column: String,
      value: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val s = current(spark, dir)
    readFiles(spark, dir, s, bloomKept(dir, s, column, value))
      .filter(col(column).cast("string") === value)
  }

  /** Steps (2)+(3) for an append of already-written data files, with
    * OPTIMISTIC REBASE: read the current carry list, stage a manifest
    * against it, publish; if another writer committed in between
    * (refused swap), abandon the manifest, re-read the carry — now
    * including the other writer's files — and retry, `maxRetries`
    * attempts in all. Appends are commutative (pure file-list union), so
    * the rebase needs no data rewrite and both writers' batches land;
    * this is the multi-writer append loop Delta/Iceberg writers run
    * against their log. */
  def completeAppend(
      spark: SparkSession,
      dir: String,
      sd: StagedData,
      maxRetries: Int = 20
  ): StagedCommit = completeAppendWith(spark, dir, sd, identity, maxRetries)

  // [[completeAppend]] with a header rewrite applied INSIDE the rebase
  // loop — the transform sees the freshly-read carry headers on every
  // retry, so a header this append must replace (an #indexof rebind, a
  // #streambatch stamp) can never resurrect a concurrent writer's stale
  // line. `sd` is reused by every attempt, so a refusal keeps it.
  private def completeAppendWith(
      spark: SparkSession,
      dir: String,
      sd: StagedData,
      mapHeaders: Seq[String] => Seq[String],
      maxRetries: Int = 20
  ): StagedCommit =
    transact(spark, dir, maxRetries - 1) { snap =>
      Right(appendPut(snap, sd, mapHeaders, owned = false))
    }

  // `sd` appended to `snap`: every file and header carries, and so does
  // the schema line
  private def appendPut(
      snap: Option[Snapshot], sd: StagedData,
      mapHeaders: Seq[String] => Seq[String], owned: Boolean): Put =
    putData(sd, mapHeaders(snap.toSeq.flatMap(carried(_, CarryAll))),
      snap.toSeq.flatMap(_.rels), owned, basis = snap)

  // the gate every append runs on its batch, against one snapshot:
  // schema, CHECK constraints, and (`unique`) the UNIQUE keys
  private def validateAppend(
      spark: SparkSession, dir: String, df: DataFrame, op: String,
      unique: Boolean): Unit =
    validateAppendAt(spark, dir, snapshot(fs(dir, spark), dir), df, op, unique)

  private def validateAppendAt(
      spark: SparkSession, dir: String, snap: Option[Snapshot], df: DataFrame,
      op: String, unique: Boolean): Unit = {
    requireSameSchema(snap.map(_.schema), df.schema, op)
    enforceChecks(snap, df)
    if (unique) enforceUnique(spark, dir, snap, df, probeExisting = true)
  }

  /** Append-commit: the new snapshot = every current file plus `df`'s new
    * files — the incremental-ingest transaction. Existing data files are
    * never rewritten or moved; the commit's data volume is the BATCH, not
    * the table, and crash safety is identical to [[commit]] (the pointer
    * swap is the only mutation readers can see). Concurrent appenders
    * each land exactly once via [[completeAppend]]'s rebase loop. */
  def append(spark: SparkSession, dir: String, df: DataFrame): StagedCommit = {
    validateAppend(spark, dir, df, "append", unique = true)
    completeAppend(spark, dir, stageData(spark, dir, df))
  }

  /** [[append]] that skips the commit when `df` evaluates to ZERO rows —
    * at ONE evaluation of the frame: staging already reads every new
    * file's exact row count from its footer, so the emptiness answer is
    * free there, where an `isEmpty` probe before the append re-evaluates
    * the whole frame (for a streaming sink, on every micro-batch — the
    * r15 optimization round measured that second evaluation as one full
    * job per batch in stream_idempotent_sink). An empty stage commits
    * nothing and its directory — referenced by no manifest — is deleted
    * immediately rather than left as vacuum debt on every empty batch.
    * Returns None when nothing was appended. */
  def appendIfNonEmpty(
      spark: SparkSession, dir: String, df: DataFrame): Option[StagedCommit] = {
    validateAppend(spark, dir, df, "append", unique = true)
    val sd = stageData(spark, dir, df)
    val rows = sd.statsLines.flatMap(parseSizeLine).map(_._3).sum
    if (rows > 0L) Some(completeAppend(spark, dir, sd))
    else {
      fs(dir, spark).delete(new Path(dir, sd.dataDir), true)
      None
    }
  }

  /** Multi-slice append: stage EVERY slice's data files in ONE
    * partitioned write job, then land one append transaction per slice
    * in ascending slice order — version history identical to a serial
    * append-per-slice loop (each version adds exactly its slice's rows),
    * at one Spark job instead of one write job per slice (r14
    * optimization round; the per-slice fixture loops were paying N scan+
    * write jobs to stage N kilobyte-scale batches). The slice column
    * must render to a STRING whose lexical order is the intended commit
    * order (zero-pad numerics); `keepSliceCol=false` drops it from the
    * committed content (the synthetic-bucket case). Checks/unique
    * constraints are enforced per slice exactly as [[append]] does —
    * against each slice's staged files. */
  def appendSlices(
      spark: SparkSession,
      dir: String,
      df: DataFrame,
      sliceCol: String,
      keepSliceCol: Boolean
  ): Seq[StagedCommit] = {
    import org.apache.spark.sql.functions.col
    val f = fs(dir, spark)
    val contentCols =
      if (keepSliceCol) df.columns.toSeq
      else df.columns.toSeq.filterNot(_ == sliceCol)
    val content = df.select(contentCols.map(col): _*)
    val before = snapshot(f, dir)
    requireSameSchema(before.map(_.schema), content.schema, "appendSlices")
    val needsValidation = checksOf(before).nonEmpty || uniqueKeysOf(before).nonEmpty
    val all = writeData(spark, dir, content.schema.json) { d =>
      df.select(contentCols.map(col) :+
          col(sliceCol).cast("string").as("__slice"): _*)
        .repartition(col("__slice"))
        .write.partitionBy("__slice").parquet(d)
    }
    // rel = data/<uuid>/__slice=<value>/part-…: one group per slice dir,
    // in slice order
    all.rel.groupBy(rel => rel.substring(0, rel.lastIndexOf('/'))).toSeq.sortBy(_._1)
      .map { case (_, rels) =>
        val mine = rels.toSet
        if (needsValidation) {
          val sliceDf = spark.read.schema(content.schema)
            .parquet(rels.map(r => new Path(dir, r).toString): _*)
          // each slice validates against the table as the previous
          // slices left it
          validateAppend(spark, dir, sliceDf, "appendSlices", unique = true)
        }
        completeAppend(spark, dir, all.copy(rel = rels,
          statsLines = all.statsLines.filter(l => headerRel(l).exists(mine))))
      }
  }

  /** Row-level DELETE as one table transaction, with the rewrite cost
    * BOUNDED BY DATA SKIPPING: only files whose manifest stats say they
    * MAY contain `column BETWEEN lo AND hi` rows are re-read and
    * rewritten without the matching rows; every other file carries
    * forward by reference, stats included. On a range-clustered layout
    * ([[compactSorted]] / per-band appends) a narrow delete rewrites a
    * handful of files at any table size — the GDPR-erasure shape every
    * manifest format optimizes (Delta's deletion-vector motivation,
    * here as copy-on-write). The commit is the usual single pointer
    * swap; a delete that can touch nothing is a metadata no-op. */
  def deleteWhere(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double
  ): StagedCommit = {
    import org.apache.spark.sql.functions.col
    boundedRewrite(spark, dir, pruneRanges(dir, _, column, Seq((lo, hi))),
      // null-valued rows can never match a BETWEEN delete — they survive
      _.filter(col(column).isNull || !col(column).between(lo, hi)))
  }

  /** [[deleteWhere]] for a CATEGORICAL (string-equality) predicate — the
    * per-language / per-tenant GDPR-erasure shape: only files whose
    * UTF-8-order string stats say they MAY contain `column = value` rows
    * are re-read and rewritten without them; with a per-category layout
    * ([[replacePartitions]] or per-category appends) that is exactly the
    * category's files at any table size. Null rows survive (SQL equality
    * never matches null). */
  def deleteWhereEquals(
      spark: SparkSession,
      dir: String,
      column: String,
      value: String
  ): StagedCommit = {
    import org.apache.spark.sql.functions.col
    boundedRewrite(spark, dir, pruneStrings(dir, _, column, Seq((value, value))),
      _.filter(col(column).isNull || col(column) =!= value))
  }

  /** Row-level DELETE as a MERGE-ON-READ transaction — Delta/Iceberg's
    * deletion-vector (position-delete) shape: NO data file is rewritten;
    * the matching rows' (file, row-index) positions are written to a
    * tiny parquet sidecar and recorded in the manifest header, and every
    * read of the snapshot subtracts them by a broadcast anti-join. The
    * scan cost of the delete itself is stats-bounded (only files whose
    * manifest min/max may hold `column BETWEEN lo AND hi` are read); the
    * write cost is the sidecar — at 100 TB, erasing a narrow range costs
    * a few file scans and a KB-scale write where [[deleteWhere]]'s
    * copy-on-write would rewrite the candidate files. Deletes
    * accumulate: each call adds one vector (already-deleted positions
    * are never re-listed, so vectors stay minimal and disjoint); any
    * full-snapshot rewrite — [[compact]] / [[compactSorted]] — reads
    * with vectors applied and commits WITHOUT them, i.e. compaction is
    * the materialize step. A delete that can match nothing (stats prune
    * everything, or every matching row is already deleted) is a
    * metadata no-op. Null values never match, as in SQL. */
  def deleteVectorWhere(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double
  ): StagedCommit = {
    import org.apache.spark.sql.functions.col
    dvDelete(spark, dir, s => (pruneRanges(dir, s, column, Seq((lo, hi))),
      col(column).isNotNull && col(column).between(lo, hi)))
  }

  /** [[deleteVectorWhere]] for a CATEGORICAL (string-equality)
    * predicate — the per-tenant / per-language GDPR-erasure shape,
    * without rewriting a single data file. */
  def deleteVectorWhereEquals(
      spark: SparkSession,
      dir: String,
      column: String,
      value: String
  ): StagedCommit = {
    import org.apache.spark.sql.functions.col
    dvDelete(spark, dir, s => (pruneStrings(dir, s, column, Seq((value, value))),
      col(column) === value))
  }

  /** [[deleteVectorWhere]] for an explicit KEY LIST — the erasure-queue
    * shape (a batch of ids to forget): one stats-bounded candidate scan,
    * one DV sidecar, native-typed equality. Naturally idempotent:
    * re-deleting an already-deleted key matches no live position and is
    * a metadata no-op — which is what makes an at-least-once replay of
    * an erasure batch harmless. */
  def deleteVectorWhereIn(
      spark: SparkSession,
      dir: String,
      column: String,
      values: Seq[Any]
  ): StagedCommit = {
    import org.apache.spark.sql.functions.col
    dvDelete(spark, dir, { s =>
      val native = nativeValues(spark, dir, s, column, values)
      (if (native.isEmpty) Seq.empty else inListCandidates(dir, s, column, values),
        col(column).isin(native: _*))
    })
  }

  /** Row-level UPDATE as a MERGE-ON-READ transaction — the update twin
    * of [[deleteVectorWhere]] (Iceberg v2's position-delete + data-file
    * shape): the matching live rows' positions land in a deletion-vector
    * sidecar AND their updated copies land as new data files, in ONE
    * pointer swap — no existing data file is rewritten, and a reader
    * sees every row in exactly one version, never both and never
    * neither. Candidate scan is stats-bounded (only files whose manifest
    * min/max may hold `column BETWEEN lo AND hi`); the write cost is the
    * matching rows + a KB-scale sidecar, where the copy-on-write path
    * would rewrite every candidate file. `assignments` are column →
    * expression (evaluated against the matching rows); unlisted columns
    * carry verbatim and the schema must be unchanged. A predicate that
    * matches nothing is a metadata no-op. Null values never match, as in
    * SQL. Updates accumulate like deletes; compaction materializes. */
  def updateVectorWhere(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double,
      assignments: Map[String, org.apache.spark.sql.Column]
  ): StagedCommit = {
    import org.apache.spark.sql.functions.col
    require(assignments.nonEmpty, "an update needs at least one assignment")
    transact(spark, dir, 5) { snap =>
      val s = table(snap, dir)
      val candidates = pruneRanges(dir, s, column, Seq((lo, hi)))
      if (candidates.isEmpty) Left(s.unchanged)
      else {
        val matching = livePositions(spark, dir,
          reader(spark, s).parquet(candidates: _*), s.dvRels)
          .filter(col(column).isNotNull && col(column).between(lo, hi))
        val updated = assignments.toSeq.sortBy(_._1)
          .foldLeft(matching) { case (df, (k, v)) => df.withColumn(k, v) }
          .drop("__graft_dv_rel", "__graft_dv_pos")
        requireSameSchema(Some(s.schema), updated.schema, "updateVectorWhere")
        val sd = stageData(spark, dir, updated)
        writeDv(spark, dir, matching) match {
          case None =>
            // nothing matched: the (empty) staged copies go too; no-op
            fs(dir, spark).delete(new Path(dir, sd.dataDir), true)
            Left(s.unchanged)
          case Some((dvDir, dvRels)) =>
            Right(Put(s.schemaLine,
              carried(s, CarryAll) ++ sd.statsLines ++ dvRels.map(dvLineOf),
              s.rels ++ sd.rel, Seq(sd.dataDir, dvDir)))
        }
      }
    }
  }

  /** The current snapshot's deletion-vector sidecar paths
    * (dir-relative), in manifest order — empty when every row of every
    * listed file is live. */
  def currentDeleteVectors(spark: SparkSession, dir: String): Seq[String] =
    current(spark, dir).dvRels

  /** Total positions across the current snapshot's deletion vectors —
    * footer row counts only, no data read. The compaction trigger: when
    * this grows past a fraction of the table's live rows, [[compact]] /
    * [[compactSorted]] materializes and resets it to zero. */
  def deleteVectorRowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    currentDeleteVectors(spark, dir)
      .map(rel => parquetRowCount(conf, new Path(dir, rel))).sum
  }

  // A merge-on-read delete: `select` names, under the attempt's snapshot,
  // the candidate files and the predicate of the rows to delete. The
  // positions of matching rows NOT already deleted — one scan of the
  // candidate files, nothing else — land in one new vector: same data
  // files, same stats/blooms/sketches, a header-only commit. A refusal
  // releases the sidecar; the retry recomputes the still-live positions
  // against the new CURRENT.
  private def dvDelete(
      spark: SparkSession,
      dir: String,
      select: Snapshot => (Seq[String], org.apache.spark.sql.Column)
  ): StagedCommit =
    transact(spark, dir, 5) { snap =>
      val s = table(snap, dir)
      val (candidates, matches) = select(s)
      if (candidates.isEmpty) Left(s.unchanged)
      else writeDv(spark, dir, livePositions(spark, dir,
          reader(spark, s).parquet(candidates: _*), s.dvRels).filter(matches)) match {
        case None => Left(s.unchanged) // nothing newly deleted
        case Some((dvDir, dvRels)) =>
          Right(Put(s.schemaLine, carried(s, CarryAll) ++ dvRels.map(dvLineOf),
            s.rels, Seq(dvDir)))
      }
    }

  /** The DELETE half of O(delta) index maintenance — the transaction
    * [[appendIndex]] is for appends: after corpus rows are DV-deleted,
    * drop this BOUND index table's derived rows whose `column` is in
    * `values` (the deleted corpus keys, from
    * [[readDeletesSince]]) and REBIND `#indexof` to the new corpus
    * version in the SAME pointer move. Merge-on-read: the matching
    * positions land in one DV sidecar on the index itself — no index
    * file is rewritten, and the scan is stats-bounded to the files whose
    * recorded min/max may hold a deleted key (on a cell- or key-clustered
    * layout, a narrow delete touches a handful of files at any index
    * size). ALWAYS commits, even when nothing matches (deleted corpus
    * rows may simply have no index entries): the rebind must land or the
    * probe gate stays closed forever. No reader ever sees the old binding
    * without the delete or the new binding with the dropped rows. */
  def deleteIndexVectorIn(
      spark: SparkSession,
      dir: String,
      column: String,
      values: Seq[Any],
      sourceDir: String,
      sourceVersion: Long,
      meta: Map[String, String] = Map.empty
  ): StagedCommit = transact(spark, dir, 5) { snap =>
    import org.apache.spark.sql.functions.col
    val s = table(snap, dir)
    val kept = inListCandidates(dir, s, column, values)
    val native = nativeValues(spark, dir, s, column, values)
    val dv =
      if (kept.isEmpty || native.isEmpty) None
      else writeDv(spark, dir, livePositions(spark, dir,
        reader(spark, s).parquet(kept: _*), s.dvRels).filter(col(column).isin(native: _*)))
    // the rebind replaces the old binding; `meta` keys (corpus totals a
    // delete shrinks) replace their old lines in the same move
    Right(Put(s.schemaLine,
      rebind(carried(s, CarryAll), sourceDir, sourceVersion, meta) ++
        dv.toSeq.flatMap(_._2.map(dvLineOf)),
      s.rels, dv.map(_._1).toSeq))
  }

  /** The shared stats-bounded copy-on-write transaction: re-read ONLY
    * the candidate files, rewrite them through `rewrite`, carry every
    * other file — and its stats lines — forward BY REFERENCE, commit
    * with one pointer swap. A transaction whose prune touches nothing is
    * a metadata no-op (no new version). The cost is the candidate files,
    * never the table — the invariant [[deleteWhere]],
    * [[deleteWhereEquals]] and [[mergeInto]] all ride on. A refused
    * publish re-runs the whole transaction — prune included — against
    * the new CURRENT. */
  private def boundedRewrite(
      spark: SparkSession,
      dir: String,
      candidatesOf: Snapshot => Seq[String],
      rewrite: DataFrame => DataFrame
  ): StagedCommit = transact(spark, dir, 5) { snap =>
    val s = table(snap, dir)
    val candidates = candidatesOf(s)
    if (candidates.isEmpty) Left(s.unchanged)
    else Right(rewritePut(spark, dir, s, candidates,
      rewrite(readFiles(spark, dir, s, candidates))))
  }

  // `s` with its `candidates` (absolute paths) replaced by `rewritten`'s
  // freshly staged files. Candidates are re-read WITH deletion vectors
  // applied (a DV'd row must not resurrect in the rewrite); the vectors
  // carry verbatim — their entries for rewritten files reference dead
  // rels and match nothing.
  private def rewritePut(
      spark: SparkSession, dir: String, s: Snapshot, candidates: Seq[String],
      rewritten: DataFrame): Put = {
    val candSet = candidates.toSet
    val untouched = s.rels.filterNot(rel => candSet.contains(new Path(dir, rel).toString))
    putData(stageData(spark, dir, rewritten),
      carried(s, CarryAll, untouched.toSet), untouched, owned = true, basis = Some(s))
  }

  /** MERGE (batch upsert) as one table transaction — the Delta
    * MERGE-INTO shape on the manifest protocol: per key, the highest
    * `versionCol` wins with the UPDATE side breaking exact ties
    * (idempotent re-delivery semantics, [[graft.ops.Corpus.mergeUpsert]]);
    * the merged snapshot commits by ONE pointer swap, so readers see the
    * pre-merge table until the swap and the post-merge table after —
    * never a mix. First call on an empty dir degrades to a plain commit.
    *
    * Scale — the rewrite is STATS-BOUNDED, never the table: the update
    * batch's key range (one 1-row aggregate) is intersected with every
    * file's manifest key stats; only files that MAY hold an updated key
    * are re-read and merged, every other file — and its stats — carries
    * forward by reference ([[deleteWhere]]'s recipe). On a key-clustered
    * layout ([[compactSorted]]) a narrow batch merges against a handful
    * of files at any table size; keys OUTSIDE every file's range are
    * pure inserts and rewrite nothing. The merge itself is one key
    * shuffle over candidate rows + batch. Int and string keys both
    * prune (numeric range / UTF-8-order range). A refused publish
    * re-runs the WHOLE transaction — prune, candidate re-read, merge —
    * against the new CURRENT, so the result equals sequential
    * execution. */
  def mergeInto(
      spark: SparkSession,
      dir: String,
      updates: DataFrame,
      keyCol: String,
      versionCol: String
  ): StagedCommit = {
    import org.apache.spark.sql.functions.{col, max, min}
    // the batch's key range never depends on table state — one 1-row
    // aggregate, computed once across every retry
    lazy val bounds = updates.agg(min(col(keyCol)), max(col(keyCol))).collect()(0)
    transact(spark, dir, 5) {
      case None =>
        commitAttempt(spark, dir, None,
          graft.ops.Corpus.mergeUpsert(
            updates.filter(org.apache.spark.sql.functions.lit(false)),
            updates, keyCol, versionCol))
      case Some(s) =>
        requireSameSchema(Some(s.schema), updates.schema, "mergeInto")
        enforceChecks(Some(s), updates)
        if (bounds.isNullAt(0)) Left(s.unchanged) // empty batch: metadata no-op
        else {
          val candidates = updates.schema(keyCol).dataType match {
            case org.apache.spark.sql.types.StringType =>
              pruneStrings(dir, s, keyCol,
                Seq((bounds.get(0).toString, bounds.get(1).toString)))
            case _ =>
              pruneRanges(dir, s, keyCol,
                Seq((bounds.get(0).toString.toDouble, bounds.get(1).toString.toDouble)))
          }
          Right(rewritePut(spark, dir, s, candidates, graft.ops.Corpus.mergeUpsert(
            readFiles(spark, dir, s, candidates), updates, keyCol, versionCol)))
        }
    }
  }

  /** Append with SCHEMA EVOLUTION — the mergeSchema-on-write shape:
    * the batch may carry a SUPERSET of the table's columns (brand-new
    * columns allowed; existing columns must keep their types); the
    * committed `#schema` header advances to the widened schema and
    * [[readEvolved]] resolves old files with nulls for the new columns.
    * Dropping or retyping a column still refuses loudly — silent
    * narrowing is the failure mode the plain [[append]] guard exists
    * for. */
  def appendEvolve(spark: SparkSession, dir: String, df: DataFrame): StagedCommit =
    transact(spark, dir, 0) { snap =>
      enforceChecks(snap, df)
      enforceUnique(spark, dir, snap, df, probeExisting = true)
      snap.map(_.schema).foreach { c =>
        val incoming = df.schema.fields
          .map(fd => fd.name -> fd.dataType.catalogString).toMap
        c.fields.foreach { fd =>
          val got = incoming.get(fd.name)
          require(got.contains(fd.dataType.catalogString),
            s"appendEvolve may only ADD columns: table column ${fd.name}: " +
              s"${fd.dataType.catalogString} is ${got.fold("missing")(t => s"now $t")} " +
              "in the batch")
        }
      }
      // the committed schema advances to the batch's
      val sd = stageData(spark, dir, df)
      Right(appendPut(snap, sd, identity, owned = true)
        .copy(schemaLine = schemaLineOf(sd)))
    }

  /** [[read]] across schema-evolved snapshots: per-file schemas are
    * UNIONED (parquet mergeSchema over the manifest's explicit file
    * list); files written before a column existed read as null for it. */
  def readEvolved(spark: SparkSession, dir: String): DataFrame = {
    val s = current(spark, dir)
    applyDv(spark, dir,
      spark.read.option("mergeSchema", "true").parquet(s.files(dir): _*), s.dvRels)
  }

  /** Partition-scoped overwrite — Delta's `replaceWhere` shape: the new
    * snapshot keeps every current file EXCEPT those under the partition
    * values `df` itself contains, and adds `df`'s files laid out one
    * directory per partition value. The rewrite cost is the TOUCHED
    * partitions, not the table — the missing piece the upsert sink's
    * scaladoc priced ("rewrite only the partitions the batch touches").
    *
    * Layout note: the split is driven by a DUPLICATE layout column
    * (`__p=value/` segments), and the real `partitionCol` stays in the
    * data files — so reads need no Hive partition inference (which
    * cannot cope with per-commit uuid roots between the table root and
    * the `key=value` segment) and no basePath coupling; the manifest's
    * explicit file list plus recursive lookup is the whole read path. */
  def replacePartitions(
      spark: SparkSession,
      dir: String,
      df: DataFrame,
      partitionCol: String
  ): StagedCommit = transact(spark, dir, 0) { snap =>
    requireSameSchema(snap.map(_.schema), df.schema, "replacePartitions")
    enforceChecks(snap, df)
    val sd = writeData(spark, dir, df.schema.json) { d =>
      df.withColumn("__p", org.apache.spark.sql.functions.col(partitionCol))
        .write.partitionBy("__p").parquet(d)
    }
    // touched partitions come from the WRITTEN paths, so the carry filter
    // sees exactly the escaping the writer used — and df pays one pass
    val touched: Set[String] = sd.rel.flatMap { r =>
      val i = r.indexOf("/__p=")
      if (i < 0) None
      else Some(r.substring(i + 1, r.indexOf('/', i + 1)))
    }.toSet
    val (kept, headers) = snap match {
      case None => (Seq.empty[String], Seq.empty[String])
      case Some(s) =>
        // files committed OUTSIDE the __p layout (plain commit/append)
        // can belong to any partition value — carrying them forward would
        // silently duplicate replaced rows, so a mixed layout refuses
        val bare = s.rels.filterNot(_.contains("/__p="))
        require(bare.isEmpty,
          s"replacePartitions on a mixed layout: ${bare.size} current file(s) " +
            "carry no __p= partition segment (written via commit/append); " +
            "such a table must only ever be written through replacePartitions")
        val kept = s.rels.filterNot(r => touched.exists(t => r.contains(s"/$t/")))
        // deletion vectors carry verbatim: entries for replaced files
        // reference rels no longer in the manifest and anti-join nothing
        (kept, carried(s, CarryAll, kept.toSet))
    }
    Right(putData(sd, headers, kept, owned = true, basis = snap))
  }

  /** The data-skipping statistics of the CURRENT snapshot — one entry per
    * (file, column) with footer-derived min/max/null-count, recorded at
    * commit time and carried forward by reference on append /
    * replacePartitions. Empty for manifests written before stats existed
    * (readers must treat missing stats as "cannot skip"). */
  def currentStats(spark: SparkSession, dir: String): Seq[ColStats] =
    current(spark, dir).stats

  /** [[read]] with a `_commit_version` COMMIT-LINEAGE column: the snapshot
    * version whose commit WROTE each row's current file — "when did this
    * row land?" for audits and incremental debugging, derived entirely
    * from manifest history (each file first appears in exactly one
    * surviving manifest; the map folds over metadata lines, zero data
    * reads beyond the scan itself; rows attach via the scan's file-path
    * metadata column and a broadcast of the #files-sized map). FILE
    * lineage, stated honestly: a row rewritten by compaction/OPTIMIZE or
    * a copy-on-write delete carries the REWRITE commit's version — the
    * rewrite wrote the bytes now being read (row-level history across
    * rewrites is the change-feed's job, [[readChangesSince]]). Versions
    * collapsed by [[vacuum]] shift lineage to the oldest SURVIVING
    * manifest that lists the file. */
  def readWithLineage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val f = fs(dir, spark)
    val s = current(spark, dir)
    val rels = s.rels
    val firstSeen = scala.collection.mutable.HashMap.empty[String, Long]
    versions(spark, dir).foreach { v =>
      manifestAt(f, dir, manifestName(v)).rels.foreach { rel =>
        if (!firstSeen.contains(rel)) firstSeen.update(rel, v)
      }
    }
    import spark.implicits._
    val lineage = broadcast(
      rels.map(r => (r, firstSeen(r))).toDF("__graft_rel", "_commit_version"))
    val base = applyDv(spark, dir,
      reader(spark, s).parquet(s.files(dir): _*)
        .withColumn("__graft_rel", relOfFilePath(col("_metadata.file_path"))),
      s.dvRels)
    base.join(lineage, "__graft_rel").drop("__graft_rel")
  }

  /** METADATA-ONLY `count(*)` of the CURRENT snapshot — the Iceberg/Delta
    * fast path that answers a 100 TB row count without opening one data
    * file: every commit records per-file row counts (`#size=` lines), so
    * the count is a sum over manifest lines. Deletion vectors subtract by
    * their file-matched cardinality — a sidecar-sized job (the DVs are
    * tiny parquets), still never a data read. Returns None when any
    * current file predates row-count recording (readers must scan). */
  def countFromMetadata(spark: SparkSession, dir: String): Option[Long] = {
    val s = current(spark, dir)
    val rels = s.rels
    val rowsOf = s.sizes.map { case (rel, _, rows) => rel -> rows }.toMap
    if (!rels.forall(rowsOf.contains)) return None
    val base = rels.map(rowsOf).sum
    val dvRels = s.dvRels
    if (dvRels.isEmpty) Some(base)
    else {
      // only entries pointing at a CURRENT file delete anything (vectors
      // carry verbatim across rewrites; stale entries anti-join nothing).
      // The live-file set joins as a broadcast frame, not an IN-list —
      // at 100 TB the file census is 10^5+ names, too many for a plan
      // literal.
      import org.apache.spark.sql.functions.broadcast
      import spark.implicits._
      val live = rels.toDF("_file")
      val deleted = readDv(spark, dir, dvRels)
        .join(broadcast(live), "_file")
        .count()
      Some(base - deleted)
    }
  }

  /** METADATA-ONLY `[min, max]` of `column` over the CURRENT snapshot —
    * min-of-mins / max-of-maxes across the per-file stats, zero data
    * reads. Returns None when it cannot be EXACT: a file lacks the stat,
    * every row of the column is null, or any deletion vector exists (a DV
    * can delete the extreme rows, demoting file stats to bounds — the
    * same caveat Iceberg's metadata min/max carries). Values come back in
    * the stat's recorded string form; numeric dtypes compare numerically,
    * strings in UTF-8 order. */
  def minMaxFromMetadata(
      spark: SparkSession, dir: String, column: String): Option[(String, String)] = {
    val s = current(spark, dir)
    if (s.dvRels.nonEmpty) return None
    val rels = s.rels
    val byFile = s.stats.filter(_.column == column).map(cs => cs.file -> cs).toMap
    if (!rels.forall(byFile.contains)) return None
    val stats = rels.map(byFile)
    // all-null files (min/max absent, nullCount = rows) contribute nothing;
    // a file with SOME values must carry both bounds to answer exactly
    val valued = stats.filter(cs => cs.min.isDefined && cs.max.isDefined)
    if (valued.isEmpty) return None
    if (stats.exists(cs => cs.min.isEmpty != cs.max.isEmpty)) return None
    val lt: (String, String) => Boolean =
      if (valued.forall(cs => NumericDtypes.contains(cs.dtype)))
        (a, b) => a.toDouble < b.toDouble
      else (a, b) => !utf8Lte(b, a)
    Some((valued.map(_.min.get).reduce((a, b) => if (lt(a, b)) a else b),
      valued.map(_.max.get).reduce((a, b) => if (lt(a, b)) b else a)))
  }

  /** Partition the current snapshot's files into (survivors, total) for
    * the predicate `column BETWEEN lo AND hi` using ONLY manifest
    * statistics — zero footer or data reads at plan time. A file is
    * skippable exactly when its recorded [min, max] cannot intersect
    * [lo, hi]; files with no recorded numeric stat for `column` are
    * conservatively kept. This is the 100 TB move: at a thousand
    * executors the scan cost is dominated by files OPENED, and a
    * range-clustered layout ([[compactSorted]]) plus this prune turns a
    * point/range query into a handful of file reads. */
  def pruneByRange(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double): (Seq[String], Int) = {
    val s = current(spark, dir)
    (pruneRanges(dir, s, column, Seq((lo, hi))), s.rels.size)
  }

  private val NumericDtypes = Set("int32", "int64", "float", "double")

  /** The stats prune every read and rewrite runs against ONE snapshot:
    * the files (absolute paths) of `s` whose recorded `column` [min, max]
    * of one of `dtypes` may hold a match (`hit(min, max)`). Files with no
    * such stat are conservatively kept; an all-null column chunk matches
    * no BETWEEN / IN / equality predicate. */
  private def pruneIn(dir: String, s: Snapshot, column: String, dtypes: Set[String])(
      hit: (String, String) => Boolean): Seq[String] = {
    val byFile = s.stats.filter(cs => cs.column == column && dtypes(cs.dtype))
      .map(cs => cs.file -> cs).toMap
    s.rels.filter { rel =>
      byFile.get(rel) match {
        case Some(cs) =>
          (cs.min, cs.max) match {
            case (Some(mn), Some(mx)) => hit(mn, mx)
            case _ => cs.nullCount == 0L
          }
        case None => true
      }
    }.map(rel => new Path(dir, rel).toString)
  }

  // numeric columns: a file survives when ANY [lo, hi] intersects it —
  // one range for BETWEEN, one ulp-widened point per value of an IN-list
  private def pruneRanges(
      dir: String, s: Snapshot, column: String, ranges: Seq[(Double, Double)]): Seq[String] =
    pruneIn(dir, s, column, NumericDtypes) { (mn, mx) =>
      val (fMn, fMx) = (mn.toDouble, mx.toDouble)
      ranges.exists { case (lo, hi) => fMn <= hi && fMx >= lo }
    }

  // string columns, in UTF-8 unsigned-byte order (how parquet orders
  // BINARY stats): equality is the range (v, v). On a term-clustered
  // layout ([[compactSorted]] on the key) an IN-list of terms is the
  // posting-list read of a persisted inverted index: a probe opens only
  // the files whose term range can contain them, at any index size.
  private def pruneStrings(
      dir: String, s: Snapshot, column: String, ranges: Seq[(String, String)]): Seq[String] =
    pruneIn(dir, s, column, Set("string")) { (mn, mx) =>
      ranges.exists { case (lo, hi) => utf8Lte(mn, hi) && utf8Lte(lo, mx) }
    }

  // an IN-list's candidates: numeric lists prune by ulp-widened points
  // (stats rounding can at worst read an extra file, never skip a
  // matching one), string lists by exact containment; mixed-type lists
  // keep every file
  private def inListCandidates(
      dir: String, s: Snapshot, column: String, values: Seq[Any]): Seq[String] = {
    val numeric = values.collect { case n: Number => n.doubleValue }
    val strings = values.collect { case v: String => v }
    if (values.isEmpty) Seq.empty
    else if (numeric.size == values.size)
      pruneRanges(dir, s, column, numeric.map(v => (Math.nextDown(v), Math.nextUp(v))))
    else if (strings.size == values.size)
      pruneStrings(dir, s, column, strings.map(v => (v, v)))
    else s.files(dir)
  }

  // `values` as instances of `column`'s native type ([[exactNative]])
  private def nativeValues(
      spark: SparkSession, dir: String, s: Snapshot, column: String,
      values: Seq[Any]): Seq[Any] = {
    val dt = s.schema(column).dataType
    values.flatMap(v => exactNative(v, dt))
  }

  /** [[pruneByRange]] for an equality predicate on a STRING column —
    * categorical file skipping: a file whose recorded [min, max] cannot
    * contain `value` (UTF-8 order, exactly how parquet orders BINARY
    * string stats) is skipped. With a per-category layout
    * ([[replacePartitions]], or per-category appends) min = max = the
    * category and the prune is perfect: an equality scan opens exactly
    * the matching files at any table size. */
  def pruneByEquals(
      spark: SparkSession,
      dir: String,
      column: String,
      value: String): (Seq[String], Int) = {
    val s = current(spark, dir)
    (pruneStrings(dir, s, column, Seq((value, value))), s.rels.size)
  }

  /** Stats-pruned equality read: `column = value` over only the files
    * [[pruneByEquals]] keeps. */
  def readWhereEquals(
      spark: SparkSession,
      dir: String,
      column: String,
      value: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val s = current(spark, dir)
    readFiles(spark, dir, s, pruneStrings(dir, s, column, Seq((value, value))))
      .filter(col(column) === value)
  }

  /** Stats-pruned read: `column BETWEEN lo AND hi` over only the files
    * [[pruneByRange]] keeps (the row-level filter still applies — stats
    * prune FILES, they do not evaluate rows). Equivalent to
    * `read(...).filter(col between lo and hi)` by construction. */
  def readBetween(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double): DataFrame =
    readBetweenIn(spark, dir, current(spark, dir), column, lo, hi)

  private def readBetweenIn(
      spark: SparkSession,
      dir: String,
      s: Snapshot,
      column: String,
      lo: Double,
      hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    readFiles(spark, dir, s, pruneRanges(dir, s, column, Seq((lo, hi))))
      .filter(col(column).between(lo, hi))
  }

  /** Stats-pruned IN-list read: `column IN (values)` over only the files
    * whose recorded [min, max] can contain at least one requested value —
    * Delta/Iceberg's point-lookup batch shape, and the probe read a
    * persisted inverted file needs (one call per probe batch, not one
    * [[readBetween]] per cell). CURRENT resolves ONCE for the whole
    * list: every value's prune and the deletion-vector lines evaluate
    * against the same snapshot, so a commit landing mid-plan can never
    * mix two snapshots' file sets.
    *
    * The EQUALITY compares in the column's NATIVE type: each requested
    * value is converted driver-side to the column's type only when the
    * conversion is exact, so an int64 key column is never cast to double
    * (doubles round above 2^53 — a double-typed IN list could falsely
    * match or miss neighboring keys). A value the native type cannot
    * hold exactly (e.g. 3.5 against a BIGINT column) matches nothing,
    * exactly as native-typed SQL equality would. Doubles serve only the
    * stats prune, ulp-widened both ways so stats rounding can at worst
    * read an extra file, never skip a matching one; an all-string list
    * prunes by the exact UTF-8 [min, max] containment test (the
    * posting-list read of a persisted inverted index); mixed-type lists
    * skip the prune (all files read, filter still exact). */
  def readWhereIn(
      spark: SparkSession,
      dir: String,
      column: String,
      values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val s = current(spark, dir)
    val native = nativeValues(spark, dir, s, column, values)
    if (native.isEmpty) reader(spark, s).parquet()
    else readFiles(spark, dir, s, inListCandidates(dir, s, column, values))
      .filter(col(column).isin(native: _*))
  }

  // The requested value as an instance of the column's native type, or
  // None when the conversion would change the value (such a value can
  // match no row under native-typed equality). Integral Scala/Java types
  // convert to integral columns losslessly; floating inputs convert only
  // when whole and in range. Unhandled (type, column) pairs pass through
  // verbatim and take Spark's own literal typing.
  private def exactNative(
      v: Any, dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    def integral(n: Number): Option[Long] = n match {
      case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
           _: java.lang.Long => Some(n.longValue)
      case _ =>
        val d = n.doubleValue
        val l = d.toLong
        if (!d.isNaN && d == l.toDouble) Some(l) else None
    }
    (v, dt) match {
      case (n: Number, LongType)    => integral(n)
      case (n: Number, IntegerType) =>
        integral(n).filter(l => l >= Int.MinValue && l <= Int.MaxValue)
          .map(_.toInt)
      case (n: Number, DoubleType)  => Some(n.doubleValue)
      case (n: Number, FloatType)   =>
        val fv = n.floatValue
        if (fv.toDouble == n.doubleValue) Some(fv) else None
      case _ => Some(v)
    }
  }

  /** [[read]] for a partition-laid-out manifest table: recursive lookup
    * skips Hive partition inference over the `__p=value` layout segments;
    * the partition column itself lives in the data files. */
  def readPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val s = current(spark, dir)
    applyDv(spark, dir,
      reader(spark, s).option("recursiveFileLookup", "true").parquet(s.files(dir): _*),
      s.dvRels)
  }

  /** Incremental consumption: the rows ADDED between snapshot
    * `fromVersion` (exclusive) and the current snapshot — exactly the
    * data files the newer manifests reference that the older one does
    * not, read directly (no diffing of row contents, no re-scan of the
    * base). This is the consume side of [[append]]: a downstream job
    * remembers the version it last processed and reads only the delta —
    * O(batch) per poll at any table size. Only meaningful while commits
    * are append-shaped, and that is ENFORCED: if any file of the
    * `fromVersion` snapshot is gone from CURRENT (a compaction/
    * overwrite/delete rewrote it), "added files" ≠ "added rows" — the
    * rewritten files would replay already-consumed rows — so the read
    * refuses loudly and the consumer must re-bootstrap from the full
    * table (the same contract every file-diff CDC read carries). */
  def readChangesSince(
      spark: SparkSession, dir: String, fromVersion: Long): DataFrame = {
    val old = committedVersion(fs(dir, spark), dir, fromVersion).rels.toSet
    val s = current(spark, dir)
    val cur = s.rels
    val removed = old.diff(cur.toSet)
    require(removed.isEmpty,
      s"table is not append-shaped since v$fromVersion: ${removed.size} of " +
        s"its files were rewritten or removed (compaction/overwrite/delete)" +
        " — a file diff would replay already-consumed rows; re-bootstrap" +
        " the consumer from the full table")
    val added = cur.filterNot(old)
      .map(rel => new Path(dir, rel).toString)
    // CURRENT deletion vectors apply: a row appended since `fromVersion`
    // but DV-deleted since is not part of any snapshot the consumer
    // could now read
    readFiles(spark, dir, s, added)
  }

  /** The rows DELETED between snapshot `fromVersion` (exclusive) and
    * CURRENT via deletion vectors — [[readChangesSince]]'s other half,
    * together the CHANGE DATA FEED of an append+DV-delete workload
    * (Delta CDF's shape): downstreams consume inserts AND row-level
    * deletes without ever diffing table contents. DV sidecars are
    * immutable and disjoint, so the delta is exactly the sidecars added
    * since `fromVersion`; their (file, position) pairs join back to the
    * referenced data files via the scan's row-index metadata — the read
    * cost is the files that LOST rows, not the table. Same append-shape
    * contract as the insert feed: a rewrite commit (copy-on-write
    * delete, compaction, OPTIMIZE) moved rows between files and the
    * read refuses loudly rather than mis-attributing them. NET-CHANGE
    * semantics across the pair: [[readChangesSince]] filters current DVs,
    * so a row inserted AND deleted inside the window shows only here —
    * a delete of a row the consumer never saw, a harmless no-op to
    * apply. */
  def readDeletesSince(
      spark: SparkSession, dir: String, fromVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val from = committedVersion(fs(dir, spark), dir, fromVersion)
    val old = from.rels.toSet
    val s = current(spark, dir)
    val cur = s.rels
    val removed = old.diff(cur.toSet)
    require(removed.isEmpty,
      s"table is not append-shaped since v$fromVersion: ${removed.size} of " +
        s"its files were rewritten or removed — positions no longer name " +
        "the same rows; re-bootstrap the consumer from the full table")
    val oldDv = from.dvRels.toSet
    val newDv = s.dvRels.filterNot(oldDv)
    if (newDv.isEmpty) return reader(spark, s).parquet()
    val dv = readDv(spark, dir, newDv)
    // only the files that lost rows are read back
    val touched = dv.select(col("_file")).distinct()
      .collect().map(_.getString(0)).filter(cur.toSet)
    if (touched.isEmpty) return reader(spark, s).parquet()
    val keyed = keyedByPosition(reader(spark, s)
      .parquet(touched.map(rel => new Path(dir, rel).toString): _*))
    keyed.join(org.apache.spark.sql.functions.broadcast(dv),
        keyed("__graft_dv_rel") === dv("_file") &&
          keyed("__graft_dv_pos") === dv("_pos"))
      .drop("__graft_dv_rel", "__graft_dv_pos", "_file", "_pos")
  }

  /** INCREMENTAL VIEW MAINTENANCE on the change feed: fold the rows
    * appended to `srcDir` after `sinceVersion` into an additive
    * (n_rows, value_sum) rollup keyed by `keyCol`, committed to `aggDir`
    * as one snapshot. Each refresh costs the NEW batch plus the summary
    * (key cardinality) — never the source table — which is why a 100 TB
    * dashboard refresh is O(delta): count and sum merge by addition, so
    * the full scan happens exactly once, at bootstrap. Returns the
    * source version the summary is now consistent with (thread it into
    * the next call); a refresh with nothing new is a no-op. Pass
    * sinceVersion = -1 to bootstrap from the full table. Append-shape is
    * ENFORCED, not assumed: if any file of the `sinceVersion` snapshot
    * is gone from CURRENT (a compaction/OPTIMIZE/overwrite rewrote it),
    * a file diff would double-count the rewritten files' already-folded
    * rows — the refresh detects that and AUTO-RE-BOOTSTRAPS, replacing
    * the rollup with the exact full aggregate of the current snapshot
    * (one source scan, the bootstrap cost — correctness over
    * incrementality whenever the two conflict). */
  def maintainRollup(
      spark: SparkSession,
      srcDir: String,
      aggDir: String,
      sinceVersion: Long,
      keyCol: String,
      valueCol: String
  ): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val (cur, added, rebootstrap) = sourceDelta(spark, srcDir, sinceVersion) match {
      case Some(delta) => delta
      case None => return sinceVersion
    }
    if (added.isEmpty) return cur.version // nothing new, or an empty re-bootstrap
    val delta = readFiles(spark, srcDir, cur,
      added.map(rel => new Path(srcDir, rel).toString))
    val part = delta.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"), sum(col(valueCol)).as("value_sum"))
    val merged =
      if (rebootstrap || !exists(spark, aggDir)) part
      else read(spark, aggDir).unionByName(part)
        .groupBy(col(keyCol))
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("value_sum")).as("value_sum"))
    commit(spark, aggDir, merged)
    cur.version
  }

  // The change-feed delta of `srcDir` since `sinceVersion`: (the current
  // snapshot, the data files to fold, whether the fold must REPLACE the
  // target rather than add to it), or None before the first commit. A
  // re-bootstrap (every current file) is forced by sinceVersion < 0, by
  // a rewrite commit since (an incremental fold would double-count the
  // rewritten files), and by a DV delete since — a SIDECAR-only change:
  // the data-file set is unchanged, but rows already folded into the
  // target are gone from the source, and only a re-bootstrap can
  // subtract them.
  private def sourceDelta(spark: SparkSession, srcDir: String, sinceVersion: Long)
      : Option[(Snapshot, Seq[String], Boolean)] = {
    val f = fs(srcDir, spark)
    snapshot(f, srcDir).map { cur =>
      if (sinceVersion < 0) (cur, cur.rels, true)
      else {
        val from = committedVersion(f, srcDir, sinceVersion)
        val old = from.rels.toSet
        if (old.subsetOf(cur.rels.toSet) && from.dvRels.toSet == cur.dvRels.toSet)
          (cur, cur.rels.filterNot(old), false)
        else (cur, cur.rels, true)
      }
    }
  }

  /** INCREMENTAL ENRICHMENT on the change feed — join-IVM for the
    * star-join ETL shape: keep `outDir` equal to `srcDir` LEFT JOIN
    * `dim` on `joinCol` by folding ONLY the rows appended since
    * `sinceVersion` through a broadcast of the dimension, landed on the
    * target as an APPEND (so the enriched table is itself append-shaped
    * and consumable incrementally downstream). Each refresh costs the
    * new batch × a broadcast — never the fact table. Returns the source
    * version the target is now consistent with; sinceVersion = -1
    * bootstraps from the full table. Append-shape on the SOURCE is
    * enforced with auto-re-bootstrap exactly like [[maintainRollup]].
    * The DIMENSION is a point-in-time snapshot: rows enriched earlier
    * keep the dim values of their own refresh (the SCD-ish audit
    * semantics); a dimension correction that must rewrite history is a
    * re-bootstrap, stated honestly. */
  def maintainEnriched(
      spark: SparkSession,
      srcDir: String,
      outDir: String,
      sinceVersion: Long,
      dim: DataFrame,
      joinCol: String
  ): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // the same delta as maintainRollup: a DV delete still invalidates
    // already-landed target rows, and the 'outDir equals srcDir LEFT JOIN
    // dim' contract only survives via re-bootstrap
    val (cur, added, rebootstrap) = sourceDelta(spark, srcDir, sinceVersion) match {
      case Some(delta) => delta
      case None => return sinceVersion
    }
    if (added.isEmpty) return cur.version
    val delta = readFiles(spark, srcDir, cur,
      added.map(rel => new Path(srcDir, rel).toString))
    val enriched = delta.join(broadcast(dim), Seq(joinCol), "left")
    if (rebootstrap || !exists(spark, outDir))
      commit(spark, outDir, enriched)
    else
      append(spark, outDir, enriched)
    cur.version
  }

  /** The committed snapshot versions still present in `_manifests`,
    * ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(dir, spark)
    val mdir = new Path(dir, "_manifests")
    if (!f.exists(mdir)) Seq.empty
    else f.listStatus(mdir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("manifest-") && n.endsWith(".txt"))
      .map(versionOf).sorted
  }

  /** The (version, wall-clock millis) of every committed snapshot still
    * present, ascending — manifest-file modification times, the same
    * provenance Delta's `TIMESTAMP AS OF` resolves against. Times record
    * when the manifest was WRITTEN (staged); under the optimistic
    * protocols staging and the pointer swap are milliseconds apart, and
    * the honest caveat is the same as Delta's: clock skew between
    * writers can reorder times relative to versions. Only versions at or
    * below CURRENT list (staged-but-unpublished slots are not commits). */
  def commitTimes(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val f = fs(dir, spark)
    val mdir = new Path(dir, "_manifests")
    val cur = pointerVersion(f, dir)
    if (!f.exists(mdir)) Seq.empty
    else f.listStatus(mdir).toSeq
      .filter(st => st.getPath.getName.startsWith("manifest-") &&
        st.getPath.getName.endsWith(".txt"))
      .map(st => (versionOf(st.getPath.getName), st.getModificationTime))
      .filter(_._1 <= cur)
      .sortBy(_._1)
  }

  /** TIMESTAMP AS OF resolution: the newest committed version whose
    * manifest time is at or before `tsMillis`. Refuses a time before the
    * first commit (there was no table to read). */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val times = commitTimes(spark, dir)
    require(times.nonEmpty, s"not a committed manifest table: $dir")
    val at = times.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no snapshot at or before $tsMillis in $dir " +
        s"(first commit was at ${times.head._2})")
    at.map(_._1).max
  }

  /** [[readVersion]] at the [[versionAsOf]] resolution — `TIMESTAMP AS
    * OF` time travel. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    readVersion(spark, dir, versionAsOf(spark, dir, tsMillis))

  /** Time travel: read snapshot `version` exactly as it was committed —
    * manifests are immutable and data files write-once, so any version
    * not yet [[vacuum]]ed reads bit-identically forever. */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame =
    readSnapshot(spark, dir, committedVersion(fs(dir, spark), dir, version))

  /** Plan a BOUNDED small-file compaction from the manifest's `#size=`
    * headers alone — zero store RPCs: files under `targetBytes / 2` are
    * binned first-fit-decreasing into bins of ≤ `targetBytes`; bins with
    * at least two files are worth a rewrite. Files committed before size
    * headers existed are measured by one `getFileStatus` each (bounded
    * by the uncovered count). Returns dir-relative bins. */
  def planCompaction(
      spark: SparkSession,
      dir: String,
      targetBytes: Long
  ): Seq[Seq[String]] = planBins(spark, dir, current(spark, dir), targetBytes)

  // [[planCompaction]] against one snapshot, so [[compactSmallFiles]]
  // plans and commits against the same one
  private def planBins(
      spark: SparkSession,
      dir: String,
      s: Snapshot,
      targetBytes: Long
  ): Seq[Seq[String]] = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val f = fs(dir, spark)
    val sizes = s.sizes.map(t => t._1 -> t._2).toMap
    val smallCut = targetBytes / 2
    val small = s.rels
      .map(rel => rel ->
        sizes.getOrElse(rel, f.getFileStatus(new Path(dir, rel)).getLen))
      .filter(_._2 < smallCut)
      .sortBy { case (rel, bytes) => (-bytes, rel) } // FFD, stable
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[String], Long)]
    small.foreach { case (rel, bytes) =>
      bins.indexWhere(_._2 + bytes <= targetBytes) match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(rel), bytes))
        case i  =>
          bins(i)._1 += rel
          bins(i) = (bins(i)._1, bins(i)._2 + bytes)
      }
    }
    bins.toSeq.map(_._1.toSeq).filter(_.size >= 2)
  }

  /** Execute [[planCompaction]] as ONE stats-bounded transaction — the
    * incremental OPTIMIZE: only the planned small files are re-read
    * (deletion vectors applied) and rewritten EXACTLY one output file
    * per planned bin; every other file, its stats, blooms and sketches
    * carry by reference. The bin assignment is HONORED, not
    * approximated: each bin's files (whose sizes sum ≤ targetBytes by
    * construction) coalesce into their own single output, so no output
    * file can exceed the target — round 8's `coalesce(bins.size)` merged
    * partitions by locality instead and could collapse skewed sizes into
    * one oversized file. At 100 TB this is the difference between
    * "compact the ingest dribble" (seconds, touching megabytes) and
    * [[compact]]'s full rewrite. A concurrent commit between stage and
    * swap triggers an automatic replan-and-retry. Returns the number of
    * files compacted away (0 = metadata no-op). */
  def compactSmallFiles(
      spark: SparkSession,
      dir: String,
      targetBytes: Long
  ): Int = {
    var compacted = 0 // of the attempt that committed
    transact(spark, dir, 5) { snap =>
      val s = table(snap, dir)
      val bins = planBins(spark, dir, s, targetBytes)
      compacted = bins.flatten.size - bins.size
      if (bins.isEmpty) Left(s.unchanged)
      else {
        // one write per bin: the planned bin IS the output unit
        val binData = bins.map { bin =>
          stageData(spark, dir, readFiles(spark, dir, s,
            bin.map(rel => new Path(dir, rel).toString)).coalesce(1))
        }
        val untouched = s.rels.filterNot(bins.flatten.toSet)
        Right(Put(schemaLineOf(binData.head),
          carried(s, CarryAll, untouched.toSet) ++ binData.flatMap(_.statsLines),
          untouched ++ binData.flatMap(_.rel), binData.map(_.dataDir)))
      }
    }
    compacted
  }

  // #check=<b64 spec> — a TABLE-LEVEL CHECK constraint every write
  // transaction must satisfy (Delta's CHECK / NOT NULL constraint
  // shape). Specs serialize the row-local Quality constraints:
  //   not_null|<b64 col>
  //   in_range|<b64 col>|<lo>|<hi>
  //   accepted|<b64 col>|<b64 v1>,<b64 v2>,...
  private def checkLineOf(c: graft.ops.Quality.Constraint): String = {
    val spec = c match {
      case graft.ops.Quality.NotNull(col) => s"not_null|${b64(col)}"
      case graft.ops.Quality.InRange(col, lo, hi) =>
        s"in_range|${b64(col)}|$lo|$hi"
      case graft.ops.Quality.Accepted(col, vs) =>
        s"accepted|${b64(col)}|${vs.map(b64).mkString(",")}"
      case other => throw new IllegalArgumentException(
        s"only row-local constraints can be table CHECKs: ${other.name}")
    }
    s"#check=${b64(spec)}"
  }

  private def parseCheckLine(l: String): Option[graft.ops.Quality.Constraint] =
    unb64(l.stripPrefix("#check=")).split('|') match {
      case Array("not_null", c) => Some(graft.ops.Quality.NotNull(unb64(c)))
      case Array("in_range", c, lo, hi) =>
        Some(graft.ops.Quality.InRange(unb64(c), lo.toDouble, hi.toDouble))
      case Array("accepted", c, vs) =>
        Some(graft.ops.Quality.Accepted(unb64(c),
          vs.split(',').toSeq.filter(_.nonEmpty).map(unb64)))
      case _ => None
    }

  /** The table's registered CHECK constraints. */
  def checks(spark: SparkSession, dir: String): Seq[graft.ops.Quality.Constraint] =
    checksOf(snapshot(fs(dir, spark), dir))

  private def checksOf(snap: Option[Snapshot]): Seq[graft.ops.Quality.Constraint] =
    snap.toSeq.flatMap(_.headers.filter(_.startsWith("#check=")).flatMap(parseCheckLine))

  /** Register a CHECK constraint as one header-only commit — refused
    * unless the CURRENT content already satisfies it (a constraint that
    * is false at creation would make every future write fail). Once
    * registered, [[append]], [[commit]], [[appendEvolve]],
    * [[replacePartitions]] and [[mergeInto]] validate their INCOMING
    * batch with one aggregate over the batch and refuse violations
    * loudly — bad data can never enter the table, the contract a landed
    * table needs before downstreams trust it without re-validating. */
  def addCheck(
      spark: SparkSession,
      dir: String,
      constraint: graft.ops.Quality.Constraint): StagedCommit = {
    val line = checkLineOf(constraint) // validates the constraint kind
    transact(spark, dir, 0) { snap =>
      val s = table(snap, dir)
      require(graft.ops.Quality.passes(readSnapshot(spark, dir, s), Seq(constraint)),
        s"existing rows violate ${constraint.name}; a CHECK must hold at creation")
      if (s.headers.contains(line)) Left(s.unchanged)
      else Right(Put(s.schemaLine, carried(s, CarryAll) :+ line, s.rels))
    }
  }

  /** Drop a CHECK constraint (header-only commit; no-op if absent). */
  def dropCheck(
      spark: SparkSession,
      dir: String,
      constraint: graft.ops.Quality.Constraint): StagedCommit = {
    val line = checkLineOf(constraint)
    transact(spark, dir, 0) { snap =>
      val s = table(snap, dir)
      if (!s.headers.contains(line)) Left(s.unchanged)
      else Right(Put(s.schemaLine, carried(s, CarryAll).filterNot(_ == line), s.rels))
    }
  }

  // #indexof=<b64 source dir>|<source version> — a DERIVED-TABLE source
  // binding: the snapshot of another manifest table this table's content
  // was built from (a persisted ANN inverted file, a materialized
  // rollup). Carried verbatim by compaction and appends (they change the
  // LAYOUT or extend the content, not what snapshot it covers); replaced
  // by [[commitIndex]]; dropped by a plain [[commit]] (overwriting an
  // index table with arbitrary content voids any staleness claim).
  private def indexOfLine(srcDir: String, srcVersion: Long): String =
    s"#indexof=${b64(srcDir)}|$srcVersion"

  // #meta=<b64 key>|<b64 value> — table metadata a DERIVED table's build
  // records next to its #indexof binding (corpus-level statistics a probe
  // needs without rescanning the corpus: document count, total token
  // length). Same lifecycle as #indexof: carried verbatim by compaction
  // and appends, replaced key-wise by [[commitIndex]]/[[appendIndex]]'s
  // `meta` argument in the SAME pointer move as the content change it
  // describes, dropped by a plain [[commit]].
  private def metaLine(k: String, v: String): String =
    s"#meta=${b64(k)}|${b64(v)}"

  private def parseMetaLine(l: String): Option[(String, String)] =
    if (!l.startsWith("#meta=")) None
    else l.stripPrefix("#meta=").split('|') match {
      case Array(k, v) => Some((unb64(k), unb64(v)))
      case _ => None
    }

  /** The CURRENT snapshot's `#meta=` table metadata as a map. Keys are
    * committed by [[commitIndex]]/[[appendIndex]]'s `meta` argument —
    * snapshot-consistent by construction: a reader that resolves CURRENT
    * once sees the metadata written in the same pointer move as the
    * content it describes. */
  def properties(spark: SparkSession, dir: String): Map[String, String] =
    current(spark, dir).headers.flatMap(parseMetaLine).toMap

  private def metaLines(meta: Map[String, String]): Seq[String] =
    meta.toSeq.sortBy(_._1).map { case (k, v) => metaLine(k, v) }

  // `hs` REBOUND to `sourceDir`@`sourceVersion`: the old #indexof line
  // and the old lines of `meta`'s keys give way to the new ones
  private def rebind(
      hs: Seq[String], sourceDir: String, sourceVersion: Long,
      meta: Map[String, String]): Seq[String] =
    (hs.filterNot(l => l.startsWith("#indexof=") ||
        parseMetaLine(l).exists(kv => meta.contains(kv._1))) :+
      indexOfLine(sourceDir, sourceVersion)) ++ metaLines(meta)

  private def parseIndexOfLine(l: String): Option[(String, Long)] =
    l.stripPrefix("#indexof=").split('|') match {
      case Array(src, v) => Some((unb64(src), v.toLong))
      case _ => None
    }

  /** Full-snapshot commit of DERIVED content (an index, a materialized
    * view) recording WHICH snapshot of `sourceDir` it was built from —
    * the staleness contract a decoupled build/probe lifecycle needs:
    * without it, appending to the corpus leaves every probe silently
    * missing the new rows, the worst failure mode an index can have.
    * [[requireIndexFresh]] is the probe-side check. */
  def commitIndex(
      spark: SparkSession,
      dir: String,
      df: DataFrame,
      sourceDir: String,
      sourceVersion: Long,
      meta: Map[String, String] = Map.empty): StagedCommit =
    transact(spark, dir, 0) { snap =>
      enforceChecks(snap, df)
      Right(putData(stageData(spark, dir, df),
        rebind(snap.toSeq.flatMap(carried(_, CarryChecks)), sourceDir, sourceVersion, meta),
        Nil, owned = true))
    }

  /** Append-commit to a bound index table that REBINDS the #indexof
    * header in the same transaction — the O(delta) index-maintenance
    * shape: after a corpus append, assign ONLY the new vectors
    * ([[graft.ops.Similarity.assignCells]] under the frozen codebook)
    * and land them here with the new corpus version; existing
    * inverted-file entries carry forward by reference, so maintenance
    * cost is the delta, never the index. Same optimistic-rebase loop as
    * [[append]]; the binding swap and the file-list union are ONE
    * pointer move, so no reader ever sees delta rows under the old
    * binding or the new binding without the delta. */
  def appendIndex(
      spark: SparkSession,
      dir: String,
      df: DataFrame,
      sourceDir: String,
      sourceVersion: Long,
      maxRetries: Int = 20,
      meta: Map[String, String] = Map.empty): StagedCommit = {
    validateAppend(spark, dir, df, "appendIndex", unique = false)
    completeAppendWith(spark, dir, stageData(spark, dir, df),
      rebind(_, sourceDir, sourceVersion, meta), maxRetries)
  }

  // #streambatch=<b64 stream id>|<batch id> — a foreachBatch IDEMPOTENCE
  // marker: the last micro-batch a named stream landed on this table,
  // recorded in the SAME pointer move as the batch's files, so "did this
  // batch already commit?" has a crash-consistent answer. foreachBatch is
  // at-least-once (a restart replays the last unacknowledged batch);
  // sinks skip a batch whose id is <= the recorded marker instead of
  // appending it twice. One marker per stream id — distinct streams
  // writing one table must use distinct ids; batch ids are monotonic per
  // checkpointed query, which is what makes <= the correct test.
  private def streamBatchLine(streamId: String, batchId: Long): String =
    s"#streambatch=${b64(streamId)}|$batchId"

  private def parseStreamBatchLine(l: String): Option[(String, Long)] =
    if (!l.startsWith("#streambatch=")) None
    else l.stripPrefix("#streambatch=").split('|') match {
      case Array(s, b) => Some((unb64(s), b.toLong))
      case _ => None
    }

  private def lastStreamBatchIn(lines: Seq[String], streamId: String): Option[Long] =
    lines.flatMap(parseStreamBatchLine)
      .collectFirst { case (s, b) if s == streamId => b }

  // `hs` stamped with `streamId`'s batch marker, its old marker replaced
  private def stamp(hs: Seq[String], streamId: String, batchId: Long): Seq[String] =
    hs.filterNot(l => parseStreamBatchLine(l).exists(_._1 == streamId)) :+
      streamBatchLine(streamId, batchId)

  /** The last batch id stream `streamId` landed on this table's CURRENT
    * snapshot, or None (no table, or no marker for this stream). */
  def lastStreamBatch(
      spark: SparkSession, dir: String, streamId: String): Option[Long] =
    snapshot(fs(dir, spark), dir).flatMap(s => lastStreamBatchIn(s.headers, streamId))

  /** [[lastStreamBatch]] against a BRANCH head (the WAP sink's marker). */
  def lastStreamBatchOnBranch(
      spark: SparkSession, dir: String, name: String,
      streamId: String): Option[Long] = {
    val f = fs(dir, spark)
    if (!f.exists(branchDir(dir, name))) None
    else {
      val (head, _, _) = branchState(f, dir, name)
      lastStreamBatchIn(manifestAt(f, dir, head).headers, streamId)
    }
  }

  /** [[append]] stamped with a stream-batch idempotence marker: the
    * batch's files and its `(streamId, batchId)` marker land in ONE
    * pointer move, so a foreachBatch replay (at-least-once delivery)
    * that re-offers an already-landed batch is detectable by
    * [[lastStreamBatch]] with no duplicate-or-lost window in between. */
  def appendStamped(
      spark: SparkSession, dir: String, df: DataFrame,
      streamId: String, batchId: Long): StagedCommit = {
    validateAppend(spark, dir, df, "appendStamped", unique = true)
    completeAppendWith(spark, dir, stageData(spark, dir, df),
      stamp(_, streamId, batchId))
  }

  /** [[appendIndex]] stamped with a stream-batch marker — the streaming
    * ANN-maintenance transaction: delta rows, the `#indexof` rebind, and
    * the batch marker are ONE pointer move. */
  def appendIndexStamped(
      spark: SparkSession, dir: String, df: DataFrame,
      sourceDir: String, sourceVersion: Long,
      streamId: String, batchId: Long,
      maxRetries: Int = 20,
      meta: Map[String, String] = Map.empty): StagedCommit = {
    validateAppend(spark, dir, df, "appendIndexStamped", unique = false)
    completeAppendWith(spark, dir, stageData(spark, dir, df),
      hs => stamp(rebind(hs, sourceDir, sourceVersion, meta), streamId, batchId),
      maxRetries)
  }

  /** The (source dir, source version) this table's CURRENT snapshot is
    * bound to, or None for an unbound table. */
  def indexSourceOf(spark: SparkSession, dir: String): Option[(String, Long)] =
    snapshot(fs(dir, spark), dir).flatMap(
      _.headers.filter(_.startsWith("#indexof=")).flatMap(parseIndexOfLine).headOption)

  /** Probe-side staleness gate: refuse (loudly, with both versions in
    * the message) unless the index's recorded source snapshot is STILL
    * the source table's CURRENT — after a corpus append/compaction the
    * probe fails here instead of silently missing vectors. Also refuses
    * an unbound table: an index with no recorded provenance cannot claim
    * freshness. */
  def requireIndexFresh(spark: SparkSession, dir: String): Unit = {
    val (src, v) = indexSourceOf(spark, dir).getOrElse(throw new IllegalStateException(
      s"$dir carries no #indexof source binding — commit it with commitIndex " +
        "before probing, or rebuild it; an unbound index cannot claim freshness"))
    val cur = currentVersion(spark, src)
    if (cur != v) throw new IllegalStateException(
      s"stale index: $dir was built from $src v$v but the source is now v$cur — " +
        "rebuild the index (commitIndex) before probing")
  }

  // #unique=<b64 col> — a table-level UNIQUE KEY constraint (the primary-
  // key contract: non-null, no duplicates). Row-local CHECKs validate the
  // batch alone; UNIQUE additionally probes the TABLE, stats-bounded: the
  // existing-key scan prunes to files whose recorded [min, max] overlaps
  // the batch's key range (the idempotentSink shape — monotonic ingest
  // keys probe only the tail at any table size). Enforced by [[commit]]
  // (batch-internal only — an overwrite replaces the content),
  // [[append]]/[[appendStamped]]/[[appendEvolve]] (batch + table probe).
  // [[mergeInto]] keyed on the unique column preserves uniqueness by
  // construction (version-wins upsert); merging on any OTHER key is the
  // caller's responsibility, stated honestly.
  private def uniqueLineOf(column: String): String = s"#unique=${b64(column)}"

  private def parseUniqueLine(l: String): Option[String] =
    if (!l.startsWith("#unique=")) None
    else Some(unb64(l.stripPrefix("#unique=")))

  /** The table's registered UNIQUE key columns. */
  def uniqueKeys(spark: SparkSession, dir: String): Seq[String] =
    uniqueKeysOf(snapshot(fs(dir, spark), dir))

  private def uniqueKeysOf(snap: Option[Snapshot]): Seq[String] =
    snap.toSeq.flatMap(_.headers.flatMap(parseUniqueLine))

  /** Register a UNIQUE KEY as one header-only commit — refused unless the
    * CURRENT content already satisfies it. Once registered, every append
    * refuses a batch that repeats a key (within itself or against the
    * table) or carries a null key, loudly. */
  def addUnique(spark: SparkSession, dir: String, column: String): StagedCommit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val line = uniqueLineOf(column)
    transact(spark, dir, 0) { snap =>
      val s = table(snap, dir)
      val cur = readSnapshot(spark, dir, s)
      require(cur.schema.fieldNames.contains(column),
        s"UNIQUE column not in schema: $column")
      val bad = cur.groupBy(col(column)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1 || col(column).isNull).limit(1).collect()
      require(bad.isEmpty,
        s"existing rows violate UNIQUE($column); the key must hold at creation")
      if (s.headers.contains(line)) Left(s.unchanged)
      else Right(Put(s.schemaLine, carried(s, CarryAll) :+ line, s.rels))
    }
  }

  // the UNIQUE gate: one aggregate over the batch (duplicate or null
  // keys), then — for appends — the stats-bounded existing-key probe.
  private def enforceUnique(
      spark: SparkSession, dir: String, snap: Option[Snapshot], df: DataFrame,
      probeExisting: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min}
    uniqueKeysOf(snap).foreach { k =>
      // a key implies a snapshot
      val s = snap.get
      require(df.schema.fieldNames.contains(k),
        s"UNIQUE($k) column missing from the incoming batch")
      // ONE aggregate answers the batch gate AND the probe bounds (r14:
      // the dup check and the min/max ran as two jobs per append): dup
      // iff distinct < non-null count, null key iff non-null < rows.
      // Only a FAILING batch pays the extra naming pass for its message.
      val g = df.agg(count(col(k)).as("__nk"), countDistinct(col(k)).as("__nd"),
        count(lit(1)).as("__n"), min(col(k)).as("__mn"), max(col(k)).as("__mx"))
        .head()
      if (g.getLong(0) != g.getLong(1) || g.getLong(0) != g.getLong(2)) {
        val bad = df.groupBy(col(k)).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1 || col(k).isNull).limit(1).collect()
        require(bad.isEmpty,
          s"UNIQUE($k) violated by the incoming batch: duplicate or null key " +
            s"(first: ${bad.headOption.map(_.get(0)).orNull})")
      }
      if (probeExisting) {
        import org.apache.spark.sql.types._
        val mm = org.apache.spark.sql.Row(g.get(3), g.get(4))
        if (!mm.isNullAt(0)) {
          val existing = df.schema(k).dataType match {
            case _: NumericType =>
              val lo = mm.get(0).asInstanceOf[Number].doubleValue
              val hi = mm.get(1).asInstanceOf[Number].doubleValue
              readBetweenIn(spark, dir, s, k, Math.nextDown(lo), Math.nextUp(hi))
            case StringType =>
              readFiles(spark, dir, s,
                pruneStrings(dir, s, k, Seq((mm.getString(0), mm.getString(1)))))
            case _ => readSnapshot(spark, dir, s)
          }
          val clash = existing.select(col(k).as("__ek"))
            .join(df.select(col(k).as("__ek")).distinct(), Seq("__ek"))
            .limit(1).collect()
          require(clash.isEmpty,
            s"UNIQUE($k) violated: key already present in the table " +
              s"(first: ${clash.headOption.map(_.get(0)).orNull})")
        }
      }
    }
  }

  // every write transaction funnels its INCOMING rows through this: one
  // aggregate over the batch, loud refusal naming the broken rule
  private def enforceChecks(snap: Option[Snapshot], df: DataFrame): Unit = {
    val cs = checksOf(snap)
    if (cs.nonEmpty) {
      val bad = graft.ops.Quality.constraintReport(df, cs)
        .filter(org.apache.spark.sql.functions.col("n_violations") > 0)
        .collect()
      require(bad.isEmpty,
        s"CHECK constraint violated by the incoming batch: " +
          bad.map(r => s"${r.getString(0)} (${r.getLong(2)} rows)")
            .mkString(", "))
    }
  }

  /** RESTORE — history-preserving rollback (Delta RESTORE / Iceberg
    * rollback): commit a NEW version whose content is exactly snapshot
    * `version`'s — files, stats, blooms, sketches and deletion vectors
    * all carried BY REFERENCE, so rolling back a 100 TB table writes one
    * manifest. The bad version stays in history (time travel still
    * reads it); an existing target manifest implies its files are still
    * live, because any [[vacuum]] that would have swept the files would
    * have swept the manifest first. */
  def restore(spark: SparkSession, dir: String, version: Long): StagedCommit = {
    val f = fs(dir, spark)
    val name = requireVersion(f, dir, version)
    transact(spark, dir, 0) { snap =>
      if (snap.exists(_.version == version)) Left(StagedCommit(version, name, version))
      else {
        val target = manifestAt(f, dir, name)
        Right(Put(target.schemaLine, carried(target, CarryAll), target.rels))
      }
    }
  }

  /** Manifest-native small-file compaction: coalesce the CURRENT snapshot
    * into `targetFiles` new data files and commit them by pointer swap —
    * zero directory renames, zero reader-visible windows (contrast
    * [[graft.ops.Bucketing.compact]]'s rename-aside, which is only safe
    * where directory rename is atomic). Old files stay on disk for
    * in-flight readers until [[vacuum]]. */
  def compact(spark: SparkSession, dir: String, targetFiles: Int): StagedCommit =
    commitLayout(spark, dir)(_.coalesce(targetFiles))

  // a LAYOUT rewrite: the current rows, rearranged by `layout`, commit as
  // a full snapshot WITHOUT re-validation — they already passed at their
  // own commit, and a redundant validation pass is exactly what a 100 TB
  // compaction must not pay. The deletion vectors are materialized.
  private def commitLayout(spark: SparkSession, dir: String)(
      layout: DataFrame => DataFrame): StagedCommit =
    transact(spark, dir, 0) { snap =>
      val s = table(snap, dir)
      Right(putData(stageData(spark, dir, layout(readSnapshot(spark, dir, s))),
        carried(s, CarryLayout), Nil, owned = true))
    }

  /** Range-clustered compaction: rewrite the snapshot into `targetFiles`
    * files with DISJOINT `sortCols` ranges (repartitionByRange + local
    * sort — never a global single-partition sort) and commit by pointer
    * swap. Point/range scans on the sort key then skip whole files via
    * parquet min/max row-group stats — [[graft.ops.Bucketing]]'s
    * writeRangeSorted layout, delivered as a table TRANSACTION instead of
    * a directory convention. */
  def compactSorted(
      spark: SparkSession,
      dir: String,
      sortCols: Seq[String],
      targetFiles: Int
  ): StagedCommit = {
    import org.apache.spark.sql.functions.col
    commitLayout(spark, dir)(
      _.repartitionByRange(targetFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*))
  }

  /** Z-ORDER clustered compaction — multi-dimensional file skipping as
    * one table transaction (Delta's `OPTIMIZE ZORDER BY` shape): rewrite
    * the snapshot range-partitioned and sorted by the Morton interleave
    * of two non-negative integer keys ([[graft.ops.Bucketing.zValue]] —
    * pure codegen'd bit ops, never a UDF), then commit by pointer swap.
    * Rows close in z-value are close in BOTH keys, so each new file's
    * manifest min/max is tight on BOTH columns and
    * [[pruneByRange]]/[[readBetween2D]] skip files on either predicate —
    * what a single-key [[compactSorted]] cannot give: its second column
    * is scattered and every file's min/max spans the full range. At
    * 100 TB this is the difference between "scan the table" and "open
    * ~√files" for a two-sided range query. The sort cost is ONE shuffle
    * (repartitionByRange + local sort), identical to compactSorted's. */
  def compactZOrder(
      spark: SparkSession,
      dir: String,
      colA: String,
      colB: String,
      bits: Int,
      targetFiles: Int
  ): StagedCommit =
    compactZOrderN(spark, dir, Seq(colA, colB), bits, targetFiles)

  /** [[compactZOrder]] over n ≥ 2 columns ([[graft.ops.Bucketing
    * .zValueN]] — bit i of column j at position n·i + j, n·bits ≤ 63):
    * each file's min/max stays tight on EVERY clustered column, so
    * [[readBetweenNd]] intersects one tight stripe per predicate
    * dimension. Cost is unchanged from the 2-column form — one shuffle
    * (repartitionByRange on the interleave + local sort). */
  def compactZOrderN(
      spark: SparkSession,
      dir: String,
      cols: Seq[String],
      bits: Int,
      targetFiles: Int
  ): StagedCommit = {
    import org.apache.spark.sql.functions.col
    commitLayout(spark, dir)(
      _.withColumn("__graft_z",
        graft.ops.Bucketing.zValueN(cols.map(col), bits))
        .repartitionByRange(targetFiles, col("__graft_z"))
        .sortWithinPartitions(col("__graft_z"))
        .drop("__graft_z"))
  }

  // the one bucket expression BOTH the layout write and the probe use —
  // any drift between them silently loses rows, so it exists once
  private def bucketExpr(c: org.apache.spark.sql.Column, n: Int) = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    pmod(xxhash64(c), lit(n.toLong))
  }

  private val BucketMetaKey = "layout.bucket"

  /** HASH-BUCKET clustered compaction — the layout for point lookups on
    * keys min/max stats can never prune (UUIDs, content hashes, any
    * hash-distributed id, where every file's range spans the whole key
    * space): rewrite the snapshot into one `__p=<bucket>/` file group per
    * `pmod(xxhash64(key), n)` bucket and commit by pointer swap, the
    * layout spec riding the manifest as `#meta=` so probes can NEVER
    * disagree with the writer about the bucket function (Hive/Iceberg
    * bucket partitioning's hidden-partitioning contract). A point probe
    * then opens 1/n of the table's files at ANY size — the complement of
    * [[compactSorted]] (ranges) and [[compactZOrder]] (2D ranges).
    * Deletion vectors materialize in the rewrite, like every compaction.
    * One shuffle keyed on the bucket; appends after this compaction
    * break the pure layout and the probe refuses loudly. */
  def compactBucketed(
      spark: SparkSession,
      dir: String,
      column: String,
      numBuckets: Int
  ): StagedCommit = {
    import org.apache.spark.sql.functions.col
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    // a layout rewrite leaves CONTENT unchanged, so everything the
    // sibling rewrites (compactSorted/compactZOrder, [[commitLayout]])
    // carry holds here too: #check/#unique constraints, the #indexof
    // source binding, the #streambatch idempotence markers (dropping them
    // would let a foreachBatch replay after this compaction
    // double-append), and #meta corpus stats — EXCEPT a stale
    // bucket-layout #meta line from a previous compactBucketed, which
    // this commit's own layout line replaces.
    val staleLayout = metaLine(BucketMetaKey, "").takeWhile(_ != '|') + "|"
    val layout = metaLine(BucketMetaKey, s"$column|$numBuckets")
    transact(spark, dir, 0) { snap =>
      val s = table(snap, dir)
      val base = readSnapshot(spark, dir, s)
      val sd = writeData(spark, dir, base.schema.json) { d =>
        base.withColumn("__p", bucketExpr(col(column), numBuckets))
          .repartition(numBuckets, col("__p"))
          .write.partitionBy("__p").parquet(d)
      }
      Right(putData(sd,
        carried(s, CarryLayout).filterNot(_.startsWith(staleLayout)) :+ layout,
        Nil, owned = true))
    }
  }

  /** The files a bucketed point probe must open for `value`, plus the
    * snapshot's total file count — the bucket-layout analogue of
    * [[pruneByEquals]]. Resolves the layout spec from the manifest's own
    * `#meta=` line (never from caller parameters, so probe and writer
    * cannot disagree) and refuses a layout broken by later appends. */
  def pruneByBucket(
      spark: SparkSession, dir: String, value: Any): (Seq[String], Int) = {
    import org.apache.spark.sql.functions.lit
    val spec = properties(spark, dir).getOrElse(BucketMetaKey,
      throw new IllegalStateException(
        s"$dir carries no $BucketMetaKey layout — compactBucketed it first"))
    val Array(column, nStr) = spec.split('|')
    val n = nStr.toInt
    val s = current(spark, dir)
    val all = s.rels
    val bare = all.filterNot(_.contains("/__p="))
    require(bare.isEmpty,
      s"bucket layout broken: ${bare.size} current file(s) carry no __p= " +
        "segment (appended after compactBucketed) — re-run compactBucketed")
    val dt = s.schema(column).dataType
    // the probe value's bucket under the layout's own expression — a
    // 1-row local eval, no table read
    val b = spark.range(1)
      .select(bucketExpr(lit(value).cast(dt), n)).head().getLong(0)
    (all.filter(_.contains(s"/__p=$b/"))
      .map(rel => new Path(dir, rel).toString), all.size)
  }

  /** Point-equality read over a [[compactBucketed]] layout: open ONLY the
    * probe value's bucket files (1/n of the table at any size), subtract
    * the snapshot's deletion vectors, and apply the exact native-typed
    * equality row filter. Keys outside every bucket read nothing. */
  def readWhereEqualsBucketed(
      spark: SparkSession, dir: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val spec = properties(spark, dir)(BucketMetaKey)
    val column = spec.split('|')(0)
    val (kept, _) = pruneByBucket(spark, dir, value)
    val s = current(spark, dir)
    applyDv(spark, dir,
      reader(spark, s).option("recursiveFileLookup", "true").parquet(kept: _*),
      s.dvRels)
      .filter(col(column) === lit(value).cast(s.schema(column).dataType))
  }

  /** Two-sided stats-pruned read: `colA BETWEEN loA AND hiA AND colB
    * BETWEEN loB AND hiB` over only the files BOTH per-column prunes
    * keep — the read side of [[compactZOrder]] (correct on any layout;
    * fast on a z-ordered one, where the kept set is the intersection of
    * two tight stripes instead of the whole table). Row-level filters
    * still apply: stats prune FILES, they never evaluate rows. */
  def readBetween2D(
      spark: SparkSession,
      dir: String,
      colA: String, loA: Double, hiA: Double,
      colB: String, loB: Double, hiB: Double): DataFrame =
    readBetweenNd(spark, dir, Seq((colA, loA, hiA), (colB, loB, hiB)))

  /** [[readBetween2D]] over any number of `(column, lo, hi)` predicates:
    * the kept file set is the INTERSECTION of every per-column stats
    * prune — the read side of [[compactZOrderN]] (correct on any
    * layout; fast on an n-d z-ordered one, where each dimension keeps
    * one tight stripe). Row-level filters still apply: stats prune
    * FILES, they never evaluate rows. */
  def readBetweenNd(
      spark: SparkSession,
      dir: String,
      ranges: Seq[(String, Double, Double)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(ranges.nonEmpty, "readBetweenNd needs at least one range")
    // ONE pointer resolution: every prune and the DV lines evaluate
    // against the same snapshot (a commit landing between independent
    // resolutions could silently drop rows)
    val s = current(spark, dir)
    val kept = ranges.map { case (c, lo, hi) => pruneRanges(dir, s, c, Seq((lo, hi))) }
      .reduce((acc, keep) => acc.filter(keep.toSet))
    readFiles(spark, dir, s, kept)
      .filter(ranges.map { case (c, lo, hi) => col(c).between(lo, hi) }
        .reduce(_ && _))
  }

  /** Delete data files no longer referenced by the CURRENT manifest —
    * crashed-commit orphans and pre-compaction generations — and the
    * superseded manifests themselves, collapsing [[readVersion]] history
    * to the current snapshot (a later time-travel call fails with the
    * clean "vacuumed" message, never a dangling-file scan error). Run
    * only when no reader can still hold a pre-swap manifest (retention is
    * a deployment policy, same as any table format's). Returns the number
    * of data files deleted.
    *
    * In-flight staged commits are NOT swept: a manifest with a version
    * ABOVE the current pointer's is a commit between [[stage]] and
    * [[publish]] — deleting it (and its data files) would let a
    * subsequent publish swap the pointer to a void snapshot. Such
    * manifests — and the files they reference — are retained while
    * younger than `retainStagedMillis`; older ones are treated as
    * crashed-and-abandoned and swept (pass 0 to sweep all, the
    * known-no-writers recovery mode). Tagged snapshots and live
    * branches' head/base snapshots are pinned unconditionally
    * (drop the tag/branch to release them). */
  def vacuum(
      spark: SparkSession, dir: String, retainStagedMillis: Long = 3600000L): Int = {
    val f = fs(dir, spark)
    val cur = current(spark, dir)
    val keep = cur.name
    val mdir = new Path(dir, "_manifests")
    val cutoff = System.currentTimeMillis() - retainStagedMillis
    // tagged snapshots are PINNED: their manifests and files survive
    val tagged = tags(spark, dir).values.map(manifestName).toSet
    // live BRANCHES pin their head AND base manifests (and, below, the
    // files/vectors those reference): a branch head's version can be at
    // or below CURRENT's once main commits past its slots, and it is
    // older than any staged-commit window — without this pin a routine
    // vacuum would sweep a live branch's snapshot and a later
    // [[fastForward]] would swap main onto a void manifest
    val branchPinned: Set[String] = {
      val bdir = new Path(dir, "_branches")
      if (!f.exists(bdir)) Set.empty
      else f.listStatus(bdir).toSeq
        .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
        .flatMap { st =>
          // only the LIVE slot's head+base pin manifests: superseded
          // pointer slots are history, their heads fair vacuum game
          branchStateOpt(f, dir, st.getPath.getName).toSeq
            .flatMap { case (head, base, _) => Seq(head, base) }
        }.toSet
    }
    val retained = scala.collection.mutable.ArrayBuffer.empty[String]
    if (f.exists(mdir))
      f.listStatus(mdir).filter(_.getPath.getName != keep).foreach { st =>
        val n = st.getPath.getName
        val v = scala.util.Try(versionOf(n)).toOption
        val inFlight = v.exists(_ > cur.version) && st.getModificationTime >= cutoff
        if (inFlight || tagged.contains(n) || branchPinned.contains(n)) retained += n
        else f.delete(st.getPath, false): Unit
      }
    // deletion-vector sidecars are live exactly while a retained
    // manifest references them (they are .parquet files under data/,
    // so the sweep below would otherwise delete them)
    val live = (cur +: retained.toSeq.map(manifestAt(f, dir, _)))
      .flatMap(m => m.rels ++ m.dvRels)
      .map(rel => f.makeQualified(new Path(dir, rel)).toUri.getPath).toSet
    val dataRoot = new Path(dir, "data")
    if (!f.exists(dataRoot)) return 0
    var n = 0
    f.listStatus(dataRoot).foreach { sub =>
      // recursive: partition-laid-out generations nest files one level
      // deeper (__p=value/ segments)
      val children = parquetUnder(f, dir, sub.getPath).map(_._1.getPath)
      val (dead, alive) = children.partition(c =>
        !live.contains(f.makeQualified(c).toUri.getPath))
      dead.foreach { c => if (f.delete(c, false)) n += 1 }
      // a generation with no live data files left goes entirely
      // (markers like _SUCCESS included)
      if (alive.isEmpty) f.delete(sub.getPath, true): Unit
    }
    n
  }

  // ---------------------------------------------------------------------
  // MULTI-TABLE TRANSACTIONS — a catalog pointer over (table, version)
  // pins, the piece real lakehouses delegate to the catalog (Iceberg REST
  // catalog multi-table commits, Delta's coordinated commits): on a plain
  // FileSystem no swap can move two tables' CURRENT pointers atomically,
  // so the TRANSACTION pointer is the atomicity boundary instead. A txn
  // record is the full catalog state — one (name, table dir, version) pin
  // per member table — claimed into a `txn-<seq>` slot (create-if-absent,
  // same primitive as manifest slots) and published by one CURRENT swap
  // in the catalog dir. Readers wanting CROSS-TABLE consistency resolve
  // the catalog and time-travel each member to its pinned version
  // ([[readTxn]]): they see every member at the SAME transaction or none
  // of it, even while per-table CURRENT pointers move underneath (those
  // remain the weaker single-table view). Manifests are immutable and
  // pinned versions read bit-identically forever (until vacuumed — keep
  // retention ≥ catalog lag, or [[tag]] pinned versions).
  // ---------------------------------------------------------------------

  /** One member-table pin of a transaction record. */
  final case class TxnPin(dir: String, version: Long)

  private def txnRecordOf(pins: Map[String, TxnPin]): String =
    pins.toSeq.sortBy(_._1).map { case (n, p) =>
      s"${b64(n)}|${b64(p.dir)}|${p.version}"
    }.mkString("\n")

  private def parseTxnRecord(content: String): Map[String, TxnPin] =
    content.split('\n').iterator.map(_.trim).filter(_.nonEmpty).map { l =>
      val Array(n, d, v) = l.split('|')
      unb64(n) -> TxnPin(unb64(d), v.toLong)
    }.toMap

  /** The catalog's current pins (empty before any transaction). */
  def txnState(spark: SparkSession, txnDir: String): Map[String, TxnPin] = {
    val v = txnVersion(spark, txnDir)
    if (v < 0) Map.empty
    else parseTxnRecord(readSmallFile(fs(txnDir, spark),
      new Path(new Path(txnDir, "_txns"), f"txn-$v%020d.txt")))
  }

  /** The catalog's current transaction sequence number, -1 before any:
    * the highest claimed `txn-<seq>` record. There is NO pointer file —
    * the atomic exclusive CREATE of the next record is the commit
    * point (see [[commitTxnPins]]), so resolution is a directory
    * listing, never a read of a second, separately-swapped file. */
  def txnVersion(spark: SparkSession, txnDir: String): Long = {
    val f = fs(txnDir, spark)
    val tdir = new Path(txnDir, "_txns")
    if (!f.exists(tdir)) -1L
    else f.listStatus(tdir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("txn-") && n.endsWith(".txt"))
      .map(_.stripPrefix("txn-").stripSuffix(".txt").toLong)
      .foldLeft(-1L)(math.max)
  }

  /** Publish every staged commit, then move the catalog pointer to a new
    * record pinning each published table at its new version (members not
    * in this transaction keep their previous pins). The catalog swap is
    * the commit point: until it lands, [[readTxn]] keeps serving the
    * previous consistent set.
    *
    * Failure semantics (the honest plain-FileSystem contract): per-table
    * publishes happen in sequence, so a refusal at table i (optimistic-
    * concurrency conflict) leaves tables 0..i-1 MOVED at their own
    * CURRENT — the weaker per-table view can observe that — but the
    * catalog pointer never moves, so transaction-scoped readers never see
    * a torn cross-table state. Staged commits at and after the failure
    * are [[abandon]]ed (their slots released); the caller re-stages the
    * whole transaction against fresh state and retries. */
  def commitTxn(
      spark: SparkSession,
      txnDir: String,
      staged: Seq[(String, String, StagedCommit)]
  ): Long = {
    require(staged.nonEmpty, "a transaction needs at least one member table")
    require(staged.map(_._1).distinct.size == staged.size,
      s"duplicate member names in ${staged.map(_._1)}")
    var i = 0
    try {
      staged.foreach { case (_, dir, sc) => publish(spark, dir, sc); i += 1 }
    } catch {
      case e: Throwable =>
        // i = publishes that succeeded, so index i failed: its staged
        // manifest (and every later one) is released for the retry
        staged.drop(i).foreach { case (_, dir, sc) =>
          abandon(spark, dir, sc)
        }
        throw e
    }
    // The per-table publishes have landed; only the catalog record is
    // contended now. A concurrent catalog commit makes commitTxnPins
    // refuse (stale basis) — retrying re-merges against the fresh state,
    // which is exactly the right resolution since pin maps for distinct
    // member names commute.
    val pins = staged.map { case (n, dir, sc) => (n, dir, sc.version) }
    var attempt = 0
    var out = -1L
    var done = false
    while (!done) {
      try { out = commitTxnPins(spark, txnDir, pins); done = true }
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt >= 10) throw e
      }
    }
    out
  }

  /** Advance the catalog to pin `(name, dir, version)` members —
    * registering already-committed snapshots without publishing
    * anything. Previous pins for other names carry forward.
    *
    * Concurrency — a TRUE compare-and-swap, not detect-and-refuse: the
    * merged record derives from the state at `basis` and commits by
    * exclusively creating `txn-<basis+1>`. Exclusive create is atomic
    * on every FileSystem this class targets, and the record at s+1 can
    * only ever be derived from the unique record at s, so concurrent
    * committers serialize into a gap-free linearizable chain — the
    * lost-update hazard of a separate pointer swap (two committers
    * merging off one basis, the later swap dropping the earlier pins)
    * cannot occur. A loser's create fails; it gets
    * `ConcurrentModificationException`, re-reads fresh state (now
    * INCLUDING the winner's pins) and retries — [[commitTxn]] does this
    * automatically. */
  def commitTxnPins(
      spark: SparkSession,
      txnDir: String,
      pins: Seq[(String, String, Long)]
  ): Long = {
    val f = fs(txnDir, spark)
    val tdir = new Path(txnDir, "_txns")
    f.mkdirs(tdir)
    val basis = txnVersion(spark, txnDir)
    val merged = txnState(spark, txnDir) ++
      pins.map { case (n, d, v) => n -> TxnPin(d, v) }
    val seq = basis + 1
    if (!createExclusive(f, new Path(tdir, f"txn-$seq%020d.txt"),
        txnRecordOf(merged)))
      throw new java.util.ConcurrentModificationException(
        s"catalog $txnDir moved past txn-$basis while pins were being " +
          "committed — the merged record is based on stale state; " +
          "re-read and retry")
    seq
  }

  /** Sweep old catalog records, keeping the newest `keepLast` — the
    * retention bound on [[txnVersion]]'s directory listing (the CAS
    * design has no pointer file, so resolution is O(#records); a
    * high-commit-rate catalog trims here). Records form a gap-free
    * chain whose MAX is the current state and older entries are pure
    * history, so any suffix-preserving sweep is safe: committers claim
    * `max+1` regardless of what was trimmed. Returns records deleted. */
  def vacuumTxnCatalog(
      spark: SparkSession, txnDir: String, keepLast: Int = 100): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val f = fs(txnDir, spark)
    val tdir = new Path(txnDir, "_txns")
    if (!f.exists(tdir)) return 0
    val seqs = f.listStatus(tdir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("txn-") && n.endsWith(".txt"))
      .map(_.stripPrefix("txn-").stripSuffix(".txt").toLong).sorted
    val sweep = seqs.dropRight(keepLast)
    sweep.foreach(s => f.delete(new Path(tdir, f"txn-$s%020d.txt"), false))
    sweep.size
  }

  /** Read member `name` AT the catalog's pinned version — the
    * transaction-consistent view: every member read through the same
    * catalog state belongs to one transaction, regardless of per-table
    * CURRENT movement since. */
  def readTxn(spark: SparkSession, txnDir: String, name: String): DataFrame = {
    val pins = txnState(spark, txnDir)
    val pin = pins.getOrElse(name, throw new IllegalArgumentException(
      s"no member '$name' in catalog $txnDir (members: ${pins.keys.toSeq.sorted})"))
    readVersion(spark, pin.dir, pin.version)
  }
}
