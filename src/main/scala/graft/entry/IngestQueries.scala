package graft
package entry

import Fixtures._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingestion formats and the manifest-table lifecycle: commits, time
  * travel, deletes, maintenance and model binding. */
private[graft] object IngestQueries {

  /** The per-language summary of the ORIGINAL documents parquet that the
    * ORC and XML roundtrips must reproduce. */
  private lazy val langSummaryOracleSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  count(DISTINCT md5(text)) AS n_distinct_texts,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY 1""".stripMargin

  val all: Seq[Query] = Seq(
    // Extension: schema-enforced JSON-lines ingestion with corrupt-record
    // quarantine — a deterministic fixture is written, split into
    // clean/quarantined by graft.sources.Ingest, counted, and the shared
    // parse cache released. The oracle re-judges every raw line with
    // DuckDB's JSON functions (valid JSON + declared types), so both
    // engines classify the same file independently.
    Query("ingest_quarantine", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val path = "/tmp/graft_ingest_fixture.jsonl"
      val lines = Seq(
        """{"id": 1, "name": "alpha"}""",
        """{"id": 2, "name": "beta"}""",
        """{"id": 3}""",
        """not json at all""",
        """{"id": "oops", "name": "bad-type"}""",
        """{"id": 6, "name": "gamma"}""",
        """{broken""")
      // write-to-temp + atomic rename: the oracle (and a concurrently
      // running harness JVM) must never observe a partially-written fixture
      val tmp = java.nio.file.Files.createTempFile("graft_ingest_fixture", ".tmp")
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType)))
      val read = graft.sources.Ingest.readJsonQuarantined(s, path, schema)
      val cleanAgg = read.clean.agg(
        count(lit(1)).as("clean_rows"), sum(col("id")).as("id_sum")).collect()(0)
      val quarantined = read.quarantine.count()
      read.unpersist()
      import s.implicits._
      Seq((cleanAgg.getLong(0), cleanAgg.getLong(1), quarantined))
        .toDF("clean_rows", "id_sum", "quarantined")
    },
      // Re-judges the fixture written by the Spark query from its RAW lines:
      // a line is clean iff it is valid JSON and each declared field is
      // absent or of the declared type — exactly the PERMISSIVE
      // corrupt-record contract the Spark side enforces.
      """WITH raw AS (SELECT raw FROM read_csv('/tmp/graft_ingest_fixture.jsonl', header=false, quote='', delim='', columns={'raw': 'VARCHAR'})),
        |j AS (SELECT raw, json_valid(raw) AS ok,
        |  json_type(try_cast(raw AS JSON), '$.id') AS tid,
        |  json_type(try_cast(raw AS JSON), '$.name') AS tname FROM raw),
        |c AS (SELECT raw, ok AND (tid IS NULL OR tid = 'UBIGINT') AND (tname IS NULL OR tname = 'VARCHAR') AS clean FROM j)
        |SELECT count(*) FILTER (clean) AS clean_rows,
        |  CAST(sum(CASE WHEN clean THEN CAST(json_extract_string(raw, '$.id') AS BIGINT) END) AS BIGINT) AS id_sum,
        |  count(*) FILTER (NOT clean) AS quarantined
        |FROM c""".stripMargin),

    // Extension: schema-enforced CSV ingestion with corrupt-record
    // quarantine — the delimiter-world sibling of ingest_quarantine
    // (type-mismatch and wrong-arity rows quarantined, not dropped); the
    // oracle re-judges the raw lines with split + try_cast.
    // Extension: fixed-width ingestion — the mainframe/export layout with
    // the same quarantine contract (short lines and numeric garbage
    // quarantined, blank numerics null).
    Query("ingest_fixed_width", (s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
      val path = "/tmp/graft_ingest_fw.txt"
      val lines = Seq(
        "  1alpha    1.50",
        "  2beta      2.5",
        "  x         1.00",   // id garbage -> quarantine
        "  4nums         ",   // blank amount -> null, clean
        " 5")                 // short line -> quarantine
      val tmp = java.nio.file.Files.createTempFile("graft_ingest_fw", ".tmp")
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val cols = Seq(
        graft.sources.Ingest.FixedWidthCol("id", 1, 3, LongType),
        graft.sources.Ingest.FixedWidthCol("name", 4, 7, StringType),
        graft.sources.Ingest.FixedWidthCol("amount", 11, 6, DoubleType))
      val read = graft.sources.Ingest.readFixedWidth(s, path, cols)
      val cleanAgg = read.clean.agg(
        count(lit(1)).as("clean_rows"), sum(col("id")).as("id_sum"),
        sum(col("amount").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("amount_sum")).collect()(0)
      val quarantined = read.quarantine.count()
      read.unpersist()
      import s.implicits._
      Seq((cleanAgg.getLong(0), cleanAgg.getLong(1), cleanAgg.getDouble(2), quarantined))
        .toDF("clean_rows", "id_sum", "amount_sum", "quarantined")
    },
      // Re-judges the raw CSV lines: clean iff exactly two fields and the id
      // casts to BIGINT (empty-name rows are clean; wrong arity and type
      // mismatches quarantine).
      // Raw-line re-judgment with the same substr/try_cast rules.
      """WITH raw AS (SELECT raw FROM read_csv('/tmp/graft_ingest_fw.txt', header=false, quote='', delim='', columns={'raw': 'VARCHAR'})),
        |c AS (SELECT raw, strlen(raw) >= 16
        |    AND (trim(substr(raw, 1, 3)) = '' OR try_cast(trim(substr(raw, 1, 3)) AS BIGINT) IS NOT NULL)
        |    AND (trim(substr(raw, 11, 6)) = '' OR try_cast(trim(substr(raw, 11, 6)) AS DOUBLE) IS NOT NULL) AS clean
        |  FROM raw)
        |SELECT count(*) FILTER (clean) AS clean_rows,
        |  CAST(sum(CASE WHEN clean THEN try_cast(trim(substr(raw, 1, 3)) AS BIGINT) END) AS BIGINT) AS id_sum,
        |  CAST(sum(CASE WHEN clean THEN CAST(try_cast(trim(substr(raw, 11, 6)) AS DOUBLE) AS DECIMAL(18,6)) END) AS DOUBLE) AS amount_sum,
        |  count(*) FILTER (NOT clean) AS quarantined
        |FROM c""".stripMargin),

    Query("ingest_csv", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val path = "/tmp/graft_ingest_fixture.csv"
      val lines = Seq(
        "id,name",
        "1,alpha",
        "2,beta",
        "3,",
        "oops,bad-type",
        "7,gamma",
        "8,extra,field")
      val tmp = java.nio.file.Files.createTempFile("graft_ingest_csv", ".tmp")
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType)))
      val read = graft.sources.Ingest.readCsvQuarantined(s, path, schema)
      val cleanAgg = read.clean.agg(
        count(lit(1)).as("clean_rows"), sum(col("id")).as("id_sum")).collect()(0)
      val quarantined = read.quarantine.count()
      read.unpersist()
      import s.implicits._
      Seq((cleanAgg.getLong(0), cleanAgg.getLong(1), quarantined))
        .toDF("clean_rows", "id_sum", "quarantined")
    },
      """WITH raw AS (SELECT raw FROM read_csv('/tmp/graft_ingest_fixture.csv', header=false, quote='', delim='', columns={'raw': 'VARCHAR'}) WHERE raw != 'id,name'),
        |c AS (SELECT raw,
        |    len(string_split(raw, ',')) = 2 AND try_cast(string_split(raw, ',')[1] AS BIGINT) IS NOT NULL AS clean
        |  FROM raw)
        |SELECT count(*) FILTER (clean) AS clean_rows,
        |  CAST(sum(CASE WHEN clean THEN try_cast(string_split(raw, ',')[1] AS BIGINT) END) AS BIGINT) AS id_sum,
        |  count(*) FILTER (NOT clean) AS quarantined
        |FROM c""".stripMargin),

    // Extension: MODEL<->CORPUS BINDING (r12 VERDICT ask #5) — registry-
    // wide governance parity with the persisted indexes: a shipped model
    // is bound to the corpus snapshot it was trained on (#indexof via
    // commitIndex, the identical contract sim_ivf_delta's probe gate
    // enforces), so scoring REFUSES a model trained on a superseded
    // corpus instead of silently scoring rows it never saw. Lifecycle:
    // ship bound to v0 -> fresh scoring works -> the corpus grows -> the
    // gate refuses -> retrain/re-ship bound to the new version in one
    // pointer move -> scoring serves again. The oracle replays the final
    // model over the final corpus.
    Query("ingest_model_binding", (s, dir) => {
      val M = graft.sources.ManifestTable
      val Q = graft.ops.Quality
      val corpusDir = fixDocsText80Copy(s, "mbind_corpus", dir) // private copy: appended below
      val v0 = M.currentVersion(s, corpusDir)
      val reg = scratch("mbind_registry")
      Q.commitModelBytesBound(s, reg, "quality-lr",
        Q.linearModelBytes(Q.pseudoWeights(16), bias = 0.25), corpusDir, v0)
      // bound + fresh: scoring the training snapshot is SERVED (the
      // freshness gate passes). The result of this pass is unused, so it
      // is pruned to the id column (r15, the r14-verdict §6-pruning
      // ask): ReadSchema narrows to doc_id, and what runs is the gate
      // plus an id-only scan, not the token scoring. Only the second,
      // returned pass scores the corpus.
      Q.linearScoreFromArtifact(M.read(s, corpusDir), "doc_id", "text",
          reg, "quality-lr", requireFresh = true)
        .select(col("doc_id")).queryExecution.toRdd.count(): Unit
      // the corpus grows; the model is now trained on a superseded
      // snapshot and the gate must refuse...
      M.append(s, corpusDir, table(s, dir, "documents")
        .select("doc_id", "text").filter(col("doc_id") % 5 === 0))
      val staleRefused =
        try {
          Q.linearScoreFromArtifact(M.read(s, corpusDir), "doc_id", "text",
            reg, "quality-lr", requireFresh = true); false
        } catch { case _: IllegalStateException => true }
      require(staleRefused, "scoring gate must refuse a corpus-stale model")
      // ...until the retrained model re-ships bound to the new version
      Q.commitModelBytesBound(s, reg, "quality-lr",
        Q.linearModelBytes(Q.pseudoWeights(16), bias = 0.25),
        corpusDir, M.currentVersion(s, corpusDir))
      Q.linearScoreFromArtifact(M.read(s, corpusDir), "doc_id", "text",
          reg, "quality-lr", threshold = 0.5, requireFresh = true)
        .select(col("doc_id"), col("n_tokens"),
          round(col("score"), 6).as("score"), col("accept"))
    },
      // the FINAL (rebound) model over the FINAL corpus: d=16, bias 0.25 —
      // the refusal legs are in-query asserts, invisible to the output
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |z AS (SELECT doc_id, len(toks) AS n_tokens,
        |    0.25::DOUBLE + list_reduce(list_prepend(0.0::DOUBLE, list_transform(toks,
        |      x -> (((('0x'||substr(md5('w:' || ((('0x'||substr(md5(x),1,15))::UBIGINT)::BIGINT % 16)::VARCHAR),1,15))::UBIGINT)::BIGINT % 2001 - 1000) / 1000.0)::DOUBLE)),
        |      (a, v) -> a + v) / len(toks) AS zval
        |  FROM t),
        |sc AS (SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |    1.0 / (1.0 + exp(-zval)) AS score FROM z)
        |SELECT doc_id, n_tokens, round(score, 6) AS score,
        |  CAST(score >= 0.5 AS INTEGER) AS accept FROM sc""".stripMargin),

    // Extension: WARC ingestion (the CommonCrawl format) — documents
    // serialize to real WARC/1.0 files (one per partition), read back by
    // Content-Length framing; the md5 roundtrip proves byte fidelity.
    Query("ingest_warc", (s, dir) => {
      import s.implicits._
      val out = scratch("warc")
      table(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].rdd
        .mapPartitionsWithIndex { (i, it) =>
          if (it.hasNext) {
            val bytes = graft.sources.Ingest.toWarc(it)
            graft.sources.Ingest.writeBytes(f"$out/part-$i%05d.warc", bytes)
            Iterator.single(1)
          } else Iterator.empty
        }.count(): Unit
      graft.sources.Ingest.readWarc(s, out)
        .select(col("doc_id"), col("content_length"),
          md5(col("payload")).as("payload_md5"), col("target_uri"))
    },
      // The WARC roundtrip: byte length and md5 of every payload must match
      // the source text (ASCII corpus: octet_length == strlen).
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |  md5(text) AS payload_md5,
        |  'http://synthetic.local/doc/' || doc_id AS target_uri
        |FROM documents""".stripMargin),

    // Extension: gzip WARC ingestion — each partition's records gzip as
    // CONCATENATED per-record members (the CommonCrawl .warc.gz layout);
    // the reader decompresses the multi-member stream transparently.
    Query("ingest_warc_gz", (s, dir) => {
      import s.implicits._
      val out = scratch("warc_gz")
      table(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].rdd
        .mapPartitionsWithIndex { (i, it) =>
          if (it.hasNext) {
            val members = it.map(r =>
              graft.sources.Ingest.gzip(
                graft.sources.Ingest.toWarc(Iterator(r)))).toArray
            val bos = new java.io.ByteArrayOutputStream()
            members.foreach(bos.write)
            graft.sources.Ingest.writeBytes(f"$out/part-$i%05d.warc.gz",
              bos.toByteArray)
            Iterator.single(1)
          } else Iterator.empty
        }.count(): Unit
      graft.sources.Ingest.readWarc(s, out, gz = true)
        .agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("total_bytes"),
          countDistinct(md5(col("payload"))).as("n_distinct_payloads"))
    },
      // The gzip roundtrip preserves every record and byte count.
      """SELECT count(*) AS n_records,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  count(DISTINCT md5(text)) AS n_distinct_payloads
        |FROM documents""".stripMargin),

    // Extension: atomic manifest-table commits — the documents table goes
    // through the full ManifestTable protocol (commit a 8-file snapshot,
    // overwrite-commit a filtered second snapshot, pointer-swap compact,
    // vacuum the superseded generations) and reads back EXACTLY the
    // second snapshot via the manifest's file list — never a directory
    // listing, so the dead first-generation files sharing the directory
    // are invisible. The oracle recomputes the same aggregate from the
    // filtered source rows.
    Query("ingest_manifest_commit", (s, dir) => {
      val out = scratch("manifest_tbl")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      graft.sources.ManifestTable.commit(s, out, docs.repartition(8))
      graft.sources.ManifestTable.commit(s, out,
        graft.sources.ManifestTable.read(s, out).filter(col("doc_id") % 3 =!= 0))
      graft.sources.ManifestTable.compact(s, out, targetFiles = 2)
      graft.sources.ManifestTable.vacuum(s, out): Unit
      graft.sources.ManifestTable.read(s, out)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
    },
      // The manifest table's CURRENT snapshot is the doc_id % 3 <> 0 filter
      // of the source — the first (unfiltered) generation's files are dead
      // on disk and must not leak into the aggregate.
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 3 <> 0
        |GROUP BY source, lang""".stripMargin),

    // Extension: declarative data-quality gate — row-local rules
    // (not-null, range, accepted) compile into ONE aggregate over ONE
    // scan; uniqueness is one key count; referential integrity is one
    // broadcast anti-join. The report is the per-rule violation census a
    // landing pipeline gates on.
    Query("ingest_constraint_report", (s, dir) => {
      import graft.ops.Quality._
      constraintReport(table(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 1000.0, 300000.0),
        Accepted("o_orderstatus", Seq("O", "F")),
        Unique(Seq("o_orderkey")),
        Unique(Seq("o_custkey", "o_orderdate")),
        ForeignKey("o_custkey", "customer", table(s, dir, "customer"), "c_custkey")))
    },
      // Each rule's census re-derived in plain SQL; rule names match the
      // Scala Constraint.name strings exactly.
      """SELECT 'not_null(o_custkey)' AS rule,
        |  CAST(count(*) AS BIGINT) AS n_checked,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM orders
        |UNION ALL
        |SELECT 'in_range(o_totalprice,1000.0,300000.0)',
        |  CAST(count(o_totalprice) AS BIGINT),
        |  CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND NOT (o_totalprice >= 1000.0 AND o_totalprice <= 300000.0) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'accepted(o_orderstatus)',
        |  CAST(count(o_orderstatus) AS BIGINT),
        |  CAST(sum(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F') THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'unique(o_orderkey)', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'unique(o_custkey,o_orderdate)', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - (SELECT count(*) FROM (SELECT DISTINCT o_custkey, o_orderdate FROM orders)) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'foreign_key(o_custkey->customer.c_custkey)',
        |  CAST(count(o_custkey) AS BIGINT),
        |  CAST(sum(CASE WHEN o_custkey NOT IN (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders WHERE o_custkey IS NOT NULL""".stripMargin),

    // Extension: manifest-table APPEND commits — two incremental batches
    // land as append transactions (each moves only its batch's files; the
    // pointer swap is the only reader-visible mutation), and the final
    // read is exactly their union.
    Query("ingest_manifest_append", (s, dir) => {
      val out = scratch("manifest_app")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.ManifestTable.commit(s, out, docs.filter(col("doc_id") % 3 === 0))
      graft.sources.ManifestTable.append(s, out, docs.filter(col("doc_id") % 3 === 1))
      graft.sources.ManifestTable.read(s, out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
    },
      // Append union: the two batches cover doc_id % 3 in {0, 1}.
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 3 <> 2
        |GROUP BY source""".stripMargin),

    // Extension: manifest-table PARTITION-SCOPED overwrite (the
    // replaceWhere shape) — the second commit rewrites ONLY the 'en'
    // partition (halved), every other language's files carry forward by
    // reference, and the read resolves the mixed-generation file list.
    Query("ingest_manifest_replace", (s, dir) => {
      val out = scratch("manifest_rep")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.ManifestTable.replacePartitions(s, out, docs, "lang")
      graft.sources.ManifestTable.replacePartitions(s, out,
        docs.filter(col("lang") === "en" && col("doc_id") % 2 === 0), "lang")
      graft.sources.ManifestTable.readPartitioned(s, out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
    },
      // After the partition-scoped overwrite: 'en' halved, others intact.
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE lang <> 'en' OR doc_id % 2 = 0
        |GROUP BY lang""".stripMargin),

    // Extension: manifest-table CLUSTERED compaction — the snapshot
    // rewrites into files with disjoint n_chars ranges (range partition +
    // local sort, no global sort) committed by pointer swap; scans on the
    // sort key then skip whole files via parquet min/max stats
    // (disjointness is plan-proven in ManifestTableSpec; here the oracle
    // pins the rewrite losing nothing).
    Query("ingest_manifest_cluster", (s, dir) => {
      val out = scratch("manifest_cluster")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.ManifestTable.commit(s, out, docs.repartition(8))
      graft.sources.ManifestTable.compactSorted(s, out, Seq("n_chars"), targetFiles = 4)
      graft.sources.ManifestTable.vacuum(s, out): Unit
      graft.sources.ManifestTable.read(s, out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
    },
      // The clustered rewrite loses nothing.
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents GROUP BY source""".stripMargin),

    // Extension: HASH-BUCKET clustered layout — point lookups on keys
    // min/max stats can never prune (hash-distributed ids): one
    // __p=<bucket>/ file group per pmod(xxhash64(key), 16) bucket, the
    // layout spec riding the manifest #meta so the probe's bucket
    // function can never drift from the writer's; each point probe
    // opens 1/16 of the files at any table size (the in-query assert),
    // the complement of range clustering and z-order.
    Query("ingest_manifest_bucket", (s, dir) => {
      val M = graft.sources.ManifestTable
      val out = scratch("manifest_bucket")
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      M.commit(s, out, ev.repartition(8))
      M.compactBucketed(s, out, "user_id", numBuckets = 16)
      val (kept, total) = M.pruneByBucket(s, out, 7L)
      require(kept.size < total,
        s"bucket prune must skip files: kept ${kept.size} of $total")
      Seq(7L, 19L, 42L).map(v => M.readWhereEqualsBucketed(s, out, v))
        .reduce(_ union _)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_sum"))
    },
      // Bucket-pruned point probes hold exactly the requested keys' rows —
      // the layout changes which FILES open, never which rows match.
      """SELECT user_id, count(*) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events WHERE user_id IN (7, 19, 42)
        |GROUP BY user_id""".stripMargin),

    // Extension: Z-ORDER clustered layout — compactZOrder interleaves
    // two dimensions' bits so a 2D range read keeps the INTERSECTION of
    // two tight file stripes instead of a full stripe per dimension;
    // readBetween2D resolves ONE snapshot for both prunes + the
    // deletion vectors. Content equivalence is the oracle; the
    // stripe-intersection skipping itself is pinned in
    // ManifestTableSpec.
    Query("ingest_manifest_zorder", (s, dir) => {
      val out = scratch("manifest_zorder")
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      graft.sources.ManifestTable.commit(s, out, ev.repartition(8))
      graft.sources.ManifestTable.compactZOrder(
        s, out, "event_id", "user_id", bits = 12, targetFiles = 8)
      graft.sources.ManifestTable.vacuum(s, out): Unit
      graft.sources.ManifestTable.readBetween2D(s, out,
          "event_id", 100.0, 2000.0, "user_id", 10.0, 80.0)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("id_sum"),
          round(sum(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double"), 6).as("value_sum"))
    },
      // The z-ordered table holds exactly the events frame; a 2D stats-
      // pruned read equals the plain 2D filter.
      """SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS value_sum
        |FROM events
        |WHERE event_id BETWEEN 100 AND 2000 AND user_id BETWEEN 10 AND 80""".stripMargin),

    // Extension: n-DIMENSIONAL Z-ORDER (r11 VERDICT ask) — compactZOrderN
    // interleaves THREE dimensions' bits (n·i + j positions, n·bits ≤ 63)
    // so a 3-sided range read keeps the intersection of three tight file
    // stripes; readBetweenNd folds the per-column stats prunes over one
    // snapshot resolution. Content equivalence is the oracle; the
    // 3-way stripe-intersection census is pinned in ManifestTableSpec.
    Query("ingest_manifest_zorder3", (s, dir) => {
      val out = scratch("manifest_zorder3")
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      graft.sources.ManifestTable.commit(s, out, ev.repartition(8))
      graft.sources.ManifestTable.compactZOrderN(
        s, out, Seq("event_id", "user_id", "value"), bits = 12, targetFiles = 8)
      graft.sources.ManifestTable.vacuum(s, out): Unit
      graft.sources.ManifestTable.readBetweenNd(s, out, Seq(
          ("event_id", 100.0, 3000.0), ("user_id", 10.0, 80.0),
          ("value", 5.0, 400.0)))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("id_sum"),
          round(sum(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double"), 6).as("value_sum"))
    },
      // The 3-d z-ordered table holds exactly the events frame; a 3-sided
      // stats-pruned read equals the plain 3-sided filter.
      """SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS value_sum
        |FROM events
        |WHERE event_id BETWEEN 100 AND 3000 AND user_id BETWEEN 10 AND 80
        |  AND value BETWEEN 5 AND 400""".stripMargin),

    // Extension: manifest-table IN-LIST read — the batched point-lookup:
    // ONE pointer resolution and one stats-pruned scan answer the whole
    // value list (readWhereIn), where a per-value readBetween loop would
    // resolve CURRENT n times, each a window for a commit to slip
    // between probes. On the user_id-clustered layout the prune opens
    // only the files whose [min, max] can hold a requested id.
    Query("ingest_manifest_inlist", (s, dir) => {
      val out = scratch("manifest_inlist")
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      graft.sources.ManifestTable.commit(s, out, ev.repartition(8))
      graft.sources.ManifestTable.compactSorted(s, out, Seq("user_id"), targetFiles = 8)
      graft.sources.ManifestTable.readWhereIn(s, out, "user_id",
          Seq(7L, 19L, 23L, 42L, 77L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("id_sum"),
          round(sum(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double"), 6).as("value_sum"))
    },
      // The clustered table holds exactly the events frame; the stats-
      // pruned IN-list read equals the plain IN filter.
      """SELECT user_id, count(*) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS value_sum
        |FROM events
        |WHERE user_id IN (7, 19, 23, 42, 77)
        |GROUP BY user_id""".stripMargin),

    // Extension: WRITE-AUDIT-PUBLISH branch lifecycle on the CAS-backed
    // branch pointer: land a batch on a branch (zero-copy — two small
    // pointer files), audit it with a real read while main's readers
    // still see the old snapshot, then publish with ONE atomic CURRENT
    // swap. Each phase's frame pins its snapshot at construction (the
    // file list resolves eagerly), so the three reads coexist in one
    // result no matter when the swap lands.
    Query("ingest_manifest_branch", (s, dir) => {
      val out = scratch("manifest_branch")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.ManifestTable.commit(s, out, docs.filter(col("doc_id") % 2 === 0))
      graft.sources.ManifestTable.createBranch(s, out, "wap")
      graft.sources.ManifestTable.appendToBranch(
        s, out, "wap", docs.filter(col("doc_id") % 2 === 1))
      def profile(df: DataFrame, phase: String): DataFrame =
        df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
            sum(col("n_chars")).as("chars_sum"))
          .select(lit(phase).as("phase"), col("n_docs"), col("id_sum"),
            col("chars_sum"))
      val mainBefore = profile(graft.sources.ManifestTable.read(s, out), "main_before")
      val audit = profile(
        graft.sources.ManifestTable.readBranch(s, out, "wap"), "branch_audit")
      graft.sources.ManifestTable.fastForward(s, out, "wap")
      graft.sources.ManifestTable.dropBranch(s, out, "wap")
      val mainAfter = profile(graft.sources.ManifestTable.read(s, out), "main_after")
      mainBefore.union(audit).union(mainAfter)
    },
      // Phases: main before publish = the even half; the branch audit read
      // and main after the fast-forward = everything.
      """SELECT 'main_before' AS phase, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'branch_audit', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'main_after', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT) FROM documents""".stripMargin),

    // Extension: MULTI-TABLE TRANSACTION via a catalog pointer — the
    // cross-table atomicity a plain FileSystem cannot give two CURRENT
    // swaps: stage appends on TWO tables (orders + per-order lineitem
    // sums), publish both and pin them in ONE catalog-pointer move; a
    // later direct append to one table (the canary) moves that table's
    // CURRENT but not the catalog, so the transaction-scoped join below
    // sees both members at the same transaction — the in-query assert
    // proves the canary is visible at CURRENT yet absent here.
    Query("ingest_manifest_txn", (s, dir) => {
      val M = graft.sources.ManifestTable
      val cat = scratch("txn_catalog")
      val dirA = scratch("txn_orders")
      val dirB = scratch("txn_lsums")
      val orders = table(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      val lsums = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
      M.commit(s, dirA, stageSpread(s, orders.filter(col("o_orderkey") % 2 === 0)))
      M.commit(s, dirB, stageSpread(s, lsums.filter(col("l_orderkey") % 2 === 0)))
      M.commitTxnPins(s, cat, Seq(
        ("orders", dirA, M.currentVersion(s, dirA)),
        ("lsums", dirB, M.currentVersion(s, dirB))))
      val sA = M.stageAppend(s, dirA, orders.filter(col("o_orderkey") % 2 =!= 0))
      val sB = M.stageAppend(s, dirB, lsums.filter(col("l_orderkey") % 2 =!= 0))
      M.commitTxn(s, cat, Seq(("orders", dirA, sA), ("lsums", dirB, sB)))
      M.append(s, dirA, orders.limit(100)) // canary: CURRENT-only rows
      val a = M.readTxn(s, cat, "orders")
      val b = M.readTxn(s, cat, "lsums")
      require(M.read(s, dirA).count() == a.count() + 100,
        "canary append must be visible at CURRENT only, not in the txn view")
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), sum(col("q")).as("sum_qty"))
    },
      // The transaction view is both FULL tables at the txn-2 pins — the
      // post-txn canary append never enters it, so the oracle is the plain
      // whole-table join.
      """WITH b AS (SELECT l_orderkey, sum(l_quantity) AS q
        |  FROM lineitem GROUP BY 1)
        |SELECT o.o_orderstatus, count(*) AS n_orders, sum(b.q) AS sum_qty
        |FROM orders o JOIN b ON o.o_orderkey = b.l_orderkey
        |GROUP BY 1""".stripMargin),

    // Extension: TIMESTAMP AS OF time travel — versions resolve by
    // commit wall-clock (manifest mtimes, Delta's provenance) instead of
    // sequence number: a probe at v0's own commit time reads exactly v0
    // even after later commits. The inter-commit sleep pins the mtime
    // order on second-granularity filesystems.
    Query("ingest_manifest_asof", (s, dir) => {
      val M = graft.sources.ManifestTable
      val out = scratch("manifest_asof")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val v0commit = M.commit(s, out, docs.filter(col("doc_id") % 2 === 0))
      // pin the inter-commit mtime order EXPLICITLY instead of sleeping
      // past a second-granularity filesystem tick (r14 optimization
      // round: the 1.1 s sleep ran in every timed pass): backdating v0's
      // manifest by 5 s is the same wall-clock spread the sleep
      // manufactured, deterministic on any mtime granularity
      java.nio.file.Files.setLastModifiedTime(
        new java.io.File(new java.io.File(out, "_manifests"),
          v0commit.manifestName).toPath,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 5000L))
      M.commit(s, out, docs)
      val t0 = M.commitTimes(s, out).head._2
      require(M.versionAsOf(s, out, t0) == 0L,
        "v0's own commit time must resolve to v0")
      require(M.versionAsOf(s, out, Long.MaxValue) ==
        M.currentVersion(s, out), "the far future must resolve to CURRENT")
      M.readAsOf(s, out, t0)
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
    },
      // AS-OF at v0's commit time reads the even half exactly.
      """SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin),

    // Extension: MERGE-ON-READ row UPDATE — the update twin of the DV
    // delete: matching rows' positions land in a deletion vector AND
    // their updated copies land as new data files in ONE pointer swap;
    // no candidate file is rewritten (the copy-on-write alternative
    // would rewrite them all), and every row reads back in exactly one
    // version. Candidates are stats-bounded on the range-clustered
    // layout; the in-query asserts prove the original files survived
    // on disk and exactly one sidecar landed.
    Query("ingest_manifest_update", (s, dir) => {
      val M = graft.sources.ManifestTable
      val out = scratch("manifest_update")
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      M.commit(s, out, ev.repartition(8))
      M.compactSorted(s, out, Seq("user_id"), targetFiles = 8)
      val before = M.currentFiles(s, out)
      M.updateVectorWhere(s, out, "user_id", 10.0, 19.0,
        Map("value" -> (col("value") * 2)))
      val after = M.currentFiles(s, out)
      require(before.toSet.subsetOf(after.toSet) && after.size > before.size,
        "MOR update must add files, never rewrite existing ones")
      require(M.currentDeleteVectors(s, out).size == 1,
        "exactly one deletion-vector sidecar must land")
      M.read(s, out)
        .withColumn("updated", col("user_id").between(10, 19))
        .groupBy(col("updated"))
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_sum"),
          round(sum(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double"), 6).as("value_sum"))
    },
      // After the MOR update every row reads back in exactly one version:
      // the doubled value inside the range, the original outside it.
      """SELECT (user_id BETWEEN 10 AND 19) AS updated,
        |  count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  round(CAST(SUM(CAST(CASE WHEN user_id BETWEEN 10 AND 19
        |    THEN value * 2 ELSE value END AS DECIMAL(18,6))) AS DOUBLE), 6) AS value_sum
        |FROM events GROUP BY 1""".stripMargin),

    // Extension: manifest-table VACUUM — retention in one transaction:
    // after a compaction, the superseded generation's data files and
    // manifests are unreferenced; vacuum sweeps exactly them (the
    // pre-compaction repartition(8) files plus the old manifest's
    // sidecar-free history), live content is bit-identical, and
    // time-travel to the collapsed version now fails CLEANLY instead of
    // dangling — all asserted in the result row.
    Query("ingest_manifest_vacuum", (s, dir) => {
      val M = graft.sources.ManifestTable
      val out = scratch("manifest_vac")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      M.commit(s, out, docs.repartition(8))
      M.compact(s, out, targetFiles = 2)
      val swept = M.vacuum(s, out)
      val ttPruned =
        try { M.readVersion(s, out, 0L); false }
        catch { case _: Exception => true }
      M.read(s, out)
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
        .select(col("n_docs"), col("id_sum"), col("chars_sum"),
          lit(swept).as("n_swept"), lit(ttPruned).as("tt_pruned"))
    },
      // Live content survives the sweep bit-identically; the 8
      // pre-compaction files are the orphans; v0 is gone cleanly.
      """SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |  8 AS n_swept, true AS tt_pruned
        |FROM documents""".stripMargin),

    // Extension: manifest-table INCREMENTAL READ — the consume side of
    // append: a downstream job remembers its last version and reads
    // ONLY the files newer manifests added (O(batch) per poll); the base
    // snapshot's rows never re-read.
    Query("ingest_manifest_changes", (s, dir) => {
      val out = scratch("manifest_chg")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.ManifestTable.commit(s, out, docs.filter(col("doc_id") % 3 === 0))
      graft.sources.ManifestTable.append(s, out, docs.filter(col("doc_id") % 3 === 1))
      graft.sources.ManifestTable.append(s, out, docs.filter(col("doc_id") % 3 === 2))
      graft.sources.ManifestTable.readChangesSince(s, out, fromVersion = 0L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
    },
      // The delta since v0 = the two appended slices, never the base.
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 3 <> 0
        |GROUP BY source""".stripMargin),

    // Extension: manifest-table TIME TRAVEL — manifests are immutable and
    // data files write-once, so version 0 reads bit-identically after
    // version 1 replaces it; both snapshots aggregate side by side from
    // one directory.
    Query("ingest_manifest_timetravel", (s, dir) => {
      val out = scratch("manifest_tt")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      graft.sources.ManifestTable.commit(s, out, docs)
      graft.sources.ManifestTable.commit(s, out, docs.filter(col("doc_id") % 2 === 0))
      def snap(v: Long) = graft.sources.ManifestTable.readVersion(s, out, v)
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
        .select(lit(v).as("version"), col("n_docs"), col("id_sum"), col("chars_sum"))
      snap(0L).unionAll(snap(1L))
    },
      // Version 0 is the full corpus; version 1 is the doc_id % 2 = 0 cut.
      """SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents
        |UNION ALL
        |SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin),

    // Extension: nested-schema flattening (the json_normalize step) —
    // depth-2 structs flatten to a_b_c scalars in one projection; null
    // parents propagate null leaves.
    Query("ingest_flatten", (s, dir) => {
      val nested = table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") > 45, lit(null)).otherwise(
          struct(
            struct(col("l_quantity").as("qty"), col("l_discount").as("disc"))
              .as("amounts"),
            col("l_tax").as("tax"))).as("detail"))
      graft.sources.Ingest.flattenStructs(nested)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("detail_amounts_qty"), col("detail_amounts_disc"),
          col("detail_tax"))
    },
      // Null struct parents flatten to null leaves.
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity > 45 THEN NULL ELSE l_quantity END AS detail_amounts_qty,
        |  CASE WHEN l_quantity > 45 THEN NULL ELSE l_discount END AS detail_amounts_disc,
        |  CASE WHEN l_quantity > 45 THEN NULL ELSE l_tax END AS detail_tax
        |FROM lineitem""".stripMargin),

    // Extension: WebDataset shard roundtrip — documents export as ustar
    // shards (one per partition, entries `<id>.txt` + `<id>.cls` grouped
    // by sample key — the WebDataset layout), written through the Hadoop
    // FS seam, read back with checksum-verified extraction, regrouped per
    // sample; the md5 roundtrip proves byte fidelity.
    Query("ingest_webdataset", (s, dir) => {
      import s.implicits._
      val out = scratch("webdataset")
      table(s, dir, "documents").select(col("doc_id"), col("text"), col("source"))
        .as[(Long, String, String)].rdd
        .mapPartitionsWithIndex { (i, it) =>
          if (it.hasNext) {
            val utf8 = java.nio.charset.StandardCharsets.UTF_8
            val entries = it.flatMap { case (id, text, src) => Seq(
              s"$id.txt" -> text.getBytes(utf8),
              s"$id.cls" -> src.getBytes(utf8))
            }.toSeq
            graft.sources.Ingest.writeBytes(f"$out/shard-$i%05d.tar",
              graft.ops.Multimodal.toTar(entries))
            Iterator.single(1)
          } else Iterator.empty
        }.count(): Unit
      graft.sources.Ingest.readWebDataset(s, out)
        .groupBy(col("sample_key").cast("long").as("doc_id"))
        .agg(count(lit(1)).as("n_parts"),
          max(when(col("ext") === "txt", md5(col("payload")))).as("text_md5"),
          max(when(col("ext") === "txt", length(col("payload"))))
            .cast("long").as("text_len"),
          max(when(col("ext") === "cls", col("payload").cast("string"))).as("cls"))
    },
      // WebDataset roundtrip: every sample reassembles to its source row.
      """SELECT doc_id, CAST(2 AS BIGINT) AS n_parts, md5(text) AS text_md5,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS text_len,
        |  source AS cls
        |FROM documents""".stripMargin),

    // Extension: manifest data-skipping — per-file column min/max stats
    // are recorded in the manifest at commit time (footer-derived,
    // metadata-only) and a range predicate prunes FILES from the
    // manifest alone, zero footers or data pages opened at plan time.
    // The fixture appends one zone-clustered file per n_chars band so
    // the prune decision is content-derivable: the oracle recomputes
    // (files total, files scanned) from per-band min/max overlap and the
    // row aggregate from the raw predicate — both engines must agree
    // that stats-pruned reading loses no rows.
    Query("ingest_zonemap_scan", (s, dir) => {
      import s.implicits._
      val out = scratch("manifest_zonemap")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("band", floor(col("n_chars") / 512).cast("long"))
      val bands = docs.select(col("band")).distinct()
        .as[Long].collect().sorted
      bands.foreach { b =>
        graft.sources.ManifestTable.append(s, out,
          docs.filter(col("band") === b).drop("band").coalesce(1))
      }
      val (kept, total) = graft.sources.ManifestTable
        .pruneByRange(s, out, "n_chars", 600.0, 1500.0)
      graft.sources.ManifestTable.readBetween(s, out, "n_chars", 600.0, 1500.0)
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("chars_sum"),
          sum(col("doc_id")).as("id_sum"))
        .select(lit(total.toLong).as("n_files_total"),
          lit(kept.size.toLong).as("n_files_scanned"),
          col("n_rows"), col("chars_sum"), col("id_sum"))
    },
      // Both sides derive the prune outcome independently: the engine from
      // manifest stats, the oracle from per-band content min/max — a file
      // (= one n_chars band) is scanned iff its [min, max] overlaps
      // [600, 1500]; the row aggregate is the plain predicate.
      """WITH b AS (
        |  SELECT CAST(floor(n_chars / 512) AS BIGINT) AS band, n_chars, doc_id
        |  FROM documents),
        |f AS (SELECT band, min(n_chars) AS mn, max(n_chars) AS mx
        |      FROM b GROUP BY band)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_files_total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM f
        |     WHERE mn <= 1500 AND mx >= 600) AS n_files_scanned,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b
        |     WHERE n_chars BETWEEN 600 AND 1500) AS n_rows,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM b
        |     WHERE n_chars BETWEEN 600 AND 1500) AS chars_sum,
        |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM b
        |     WHERE n_chars BETWEEN 600 AND 1500) AS id_sum""".stripMargin),

    // Extension: row-level DELETE with a stats-bounded rewrite — only
    // files whose manifest stats can contain the range are re-read and
    // rewritten without matching rows; every other file (and its stats)
    // carries forward by reference, one pointer swap. On this zone
    // layout the oracle derives BOTH the rewrite census (overlapping
    // bands) and the post-delete content.
    Query("ingest_manifest_delete", (s, dir) => {
      import s.implicits._
      val out = scratch("manifest_delete")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("band",
          format_string("%05d", floor(col("n_chars") / 512).cast("long")))
      graft.sources.ManifestTable.appendSlices(
        s, out, docs, "band", keepSliceCol = false)
      val (cands, total) = graft.sources.ManifestTable
        .pruneByRange(s, out, "n_chars", 600.0, 1500.0)
      graft.sources.ManifestTable.deleteWhere(s, out, "n_chars", 600.0, 1500.0)
      graft.sources.ManifestTable.read(s, out)
        .agg(count(lit(1)).as("n_rows_after"),
          sum(col("n_chars")).as("chars_sum_after"))
        .select(lit(total.toLong).as("n_files_before"),
          lit(cands.size.toLong).as("n_files_rewritten"),
          col("n_rows_after"), col("chars_sum_after"))
    },
      // Rewrite census = bands whose [min, max] overlaps the delete
      // range; post-delete content = the complement predicate.
      """WITH b AS (
        |  SELECT CAST(floor(n_chars / 512) AS BIGINT) AS band, n_chars, doc_id
        |  FROM documents),
        |f AS (SELECT band, min(n_chars) AS mn, max(n_chars) AS mx
        |      FROM b GROUP BY band)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_files_before,
        |  (SELECT CAST(count(*) AS BIGINT) FROM f
        |     WHERE mn <= 1500 AND mx >= 600) AS n_files_rewritten,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b
        |     WHERE n_chars NOT BETWEEN 600 AND 1500) AS n_rows_after,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM b
        |     WHERE n_chars NOT BETWEEN 600 AND 1500) AS chars_sum_after""".stripMargin),

    // Extension: CATEGORICAL DELETE as one stats-bounded transaction —
    // the per-language GDPR-erasure shape: on a per-language layout the
    // UTF-8-order string stats make the equality prune perfect
    // (min = max = the language), so the erasure rewrites EXACTLY the
    // target language's files and carries every other file by
    // reference. The oracle derives the same census (one file per
    // distinct language, rewritten = the target) and the complement
    // content.
    Query("ingest_manifest_delete_cat", (s, dir) => {
      import s.implicits._
      val out = scratch("manifest_delete_cat")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val langs = docs.select(col("lang")).distinct().as[String].collect().sorted
      langs.foreach { l =>
        graft.sources.ManifestTable.append(s, out,
          docs.filter(col("lang") === l).coalesce(1))
      }
      val (cands, total) = graft.sources.ManifestTable
        .pruneByEquals(s, out, "lang", "en")
      graft.sources.ManifestTable.deleteWhereEquals(s, out, "lang", "en")
      graft.sources.ManifestTable.read(s, out)
        .agg(count(lit(1)).as("n_rows_after"),
          sum(col("n_chars")).as("chars_sum_after"),
          countDistinct(col("lang")).as("n_langs_after"))
        .select(lit(total.toLong).as("n_files_before"),
          lit(cands.size.toLong).as("n_files_rewritten"),
          col("n_rows_after"), col("chars_sum_after"), col("n_langs_after"))
    },
      // Per-language layout: one file per distinct language, rewritten =
      // the erased one; content = the complement of the equality.
      """WITH f AS (SELECT DISTINCT lang FROM documents)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_files_before,
        |  (SELECT CAST(count(*) AS BIGINT) FROM f
        |     WHERE lang = 'en') AS n_files_rewritten,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |     WHERE lang <> 'en') AS n_rows_after,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
        |     WHERE lang <> 'en') AS chars_sum_after,
        |  (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents
        |     WHERE lang <> 'en') AS n_langs_after""".stripMargin),

    // Extension: TABLE CHECK CONSTRAINTS — Delta's CHECK shape on the
    // manifest protocol: registered constraints carry in the manifest
    // header, every write transaction validates its INCOMING batch with
    // one aggregate and refuses violations loudly, so bad data can
    // never enter the table. The demo registers three checks, lands a
    // clean batch, is refused a dirty one (null lang + out-of-range),
    // and proves the table unchanged by the refusal.
    Query("ingest_manifest_check", (s, dir) => {
      val out = scratch("manifest_check")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.ManifestTable.commit(s, out,
        docs.filter(col("doc_id") % 2 === 0))
      graft.sources.ManifestTable.addCheck(s, out,
        graft.ops.Quality.NotNull("lang"))
      graft.sources.ManifestTable.addCheck(s, out,
        graft.ops.Quality.InRange("n_chars", 0.0, 100000.0))
      graft.sources.ManifestTable.addCheck(s, out,
        graft.ops.Quality.Accepted("lang", Seq("de", "en", "es", "fr", "zh")))
      graft.sources.ManifestTable.append(s, out,
        docs.filter(col("doc_id") % 2 =!= 0)) // clean: lands
      val dirty = docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id") + 1000000L,
          when(col("doc_id") % 3 === 0, lit(null: String))
            .otherwise(col("lang")).as("lang"),
          (col("n_chars") - 200000L).as("n_chars"))
        .toDF("doc_id", "lang", "n_chars")
      val refused =
        try { graft.sources.ManifestTable.append(s, out, dirty); 0L }
        catch { case _: IllegalArgumentException => 1L }
      graft.sources.ManifestTable.read(s, out)
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("chars_sum"))
        .select(
          lit(graft.sources.ManifestTable.checks(s, out).size.toLong)
            .as("n_checks"),
          lit(refused).as("n_refused"),
          col("n_rows"), col("chars_sum"))
    },
      // Three registered checks, one refused dirty batch, content = the
      // full clean table.
      """SELECT CAST(3 AS BIGINT) AS n_checks, CAST(1 AS BIGINT) AS n_refused,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents""".stripMargin),

    // Extension: RESTORE — history-preserving rollback: a bad deletion
    // is rolled back by committing a NEW version with the old snapshot's
    // content carried entirely by reference (one manifest write at any
    // table size); the bad version stays time-travelable. The oracle
    // derives the restored content and the version arithmetic.
    Query("ingest_manifest_restore", (s, dir) => {
      import s.implicits._
      val out = scratch("manifest_restore")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val langs = docs.select(col("lang")).distinct().as[String].collect().sorted
      langs.foreach { l =>
        graft.sources.ManifestTable.append(s, out,
          docs.filter(col("lang") === l).coalesce(1))
      }
      val good = graft.sources.ManifestTable.currentVersion(s, out)
      // the "incident": a vector delete erases a language
      graft.sources.ManifestTable.deleteVectorWhereEquals(s, out, "lang", "en")
      graft.sources.ManifestTable.restore(s, out, good)
      val cur = graft.sources.ManifestTable.currentVersion(s, out)
      graft.sources.ManifestTable.read(s, out)
        .agg(count(lit(1)).as("n_rows_after"),
          sum(col("n_chars")).as("chars_sum_after"))
        .select(lit(good).as("good_version"), lit(cur).as("restored_version"),
          col("n_rows_after"), col("chars_sum_after"))
    },
      // Appends = one per language (good = n-1), the delete adds one, the
      // restore one more (n+1); content is the full table again.
      """SELECT
        |  (SELECT CAST(count(DISTINCT lang) - 1 AS BIGINT) FROM documents) AS good_version,
        |  (SELECT CAST(count(DISTINCT lang) + 1 AS BIGINT) FROM documents) AS restored_version,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows_after,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents) AS chars_sum_after""".stripMargin),

    // Extension: BOUNDED OPTIMIZE — the ingest-dribble compaction: the
    // manifest's #size= headers plan a first-fit-decreasing binning of
    // ONLY the small files (zero store RPCs), and one stats-bounded
    // transaction rewrites just those bins while the two big clustered
    // files — and their stats — carry by reference. The oracle checks
    // content preservation; the untouched-big-files and files-reduced
    // invariants are computed from the manifests themselves.
    Query("ingest_manifest_optimize", (s, dir) => {
      val out = scratch("manifest_opt")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.ManifestTable.commit(s, out,
        docs.filter(col("doc_id") % 50 >= 10).coalesce(2))
      val big = graft.sources.ManifestTable.currentFiles(s, out).toSet
      // threshold pinned to the clustered files' actual size, so the
      // big/small split is scale-factor-independent
      val bigMin = big.map(p =>
        new java.io.File(new java.net.URI(p).getPath).length()).min
      (0 until 10).foreach { k =>
        graft.sources.ManifestTable.append(s, out,
          docs.filter(col("doc_id") % 50 === k).coalesce(1))
      }
      val before = graft.sources.ManifestTable.currentFiles(s, out).size
      val removed = graft.sources.ManifestTable
        .compactSmallFiles(s, out, targetBytes = bigMin)
      val after = graft.sources.ManifestTable.currentFiles(s, out)
      graft.sources.ManifestTable.read(s, out)
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("chars_sum"))
        .select(lit(removed > 0 && after.size == before - removed)
            .as("files_reduced"),
          lit(big.subsetOf(after.toSet)).as("big_files_untouched"),
          col("n_rows"), col("chars_sum"))
    },
      // The optimize invariants hold structurally; content is preserved.
      """SELECT CAST(true AS BOOLEAN) AS files_reduced,
        |  CAST(true AS BOOLEAN) AS big_files_untouched,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents""".stripMargin),

    // Extension: INCREMENTAL VIEW MAINTENANCE — an additive rollup
    // refreshed from the change feed: each refresh reads only the files
    // the newer manifest added (plus the key-cardinality summary), never
    // the source table, and the final summary equals the direct
    // aggregate. Three appends, three O(delta) refreshes, one oracle.
    Query("ingest_manifest_ivm", (s, dir) => {
      import s.implicits._
      val src = scratch("ivm_src")
      val agg = scratch("ivm_agg")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      var watermark = -1L
      Seq(0, 1, 2).foreach { slice =>
        graft.sources.ManifestTable.append(s, src,
          docs.filter(col("doc_id") % 3 === slice).coalesce(1))
        watermark = graft.sources.ManifestTable
          .maintainRollup(s, src, agg, watermark, "lang", "n_chars")
      }
      // an idle refresh is a no-op commit-wise
      val before = graft.sources.ManifestTable.currentVersion(s, agg)
      graft.sources.ManifestTable
        .maintainRollup(s, src, agg, watermark, "lang", "n_chars"): Unit
      val after = graft.sources.ManifestTable.currentVersion(s, agg)
      graft.sources.ManifestTable.read(s, agg)
        .select(col("lang"), col("n_rows"), col("value_sum"),
          lit(after - before).as("idle_refresh_commits"))
    },
      // The incrementally maintained rollup equals the direct aggregate.
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS value_sum,
        |  CAST(0 AS BIGINT) AS idle_refresh_commits
        |FROM documents GROUP BY 1""".stripMargin),

    // Extension: INCREMENTAL JOIN MAINTENANCE — the enrichment ETL as
    // IVM: the target stays equal to orders LEFT JOIN customer by
    // folding only each append's delta through a broadcast of the
    // dimension; the target is itself append-shaped (downstreams can
    // consume ITS change feed). Two appends, two O(delta) refreshes,
    // and the maintained table equals the direct join (the oracle).
    Query("ingest_manifest_enrich_ivm", (s, dir) => {
      val M = graft.sources.ManifestTable
      val src = scratch("enrich_src")
      val out = scratch("enrich_out")
      val orders = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val dim = table(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_nationkey"), col("c_mktsegment"))
      var watermark = -1L
      Seq(0, 1).foreach { slice =>
        M.append(s, src, orders.filter(col("o_orderkey") % 2 === slice))
        watermark = M.maintainEnriched(s, src, out, watermark, dim, "o_custkey")
      }
      M.read(s, out)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("c_nationkey")).as("n_nations"),
          round(sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double"), 6).as("price_sum"))
    },
      // The incrementally maintained enrichment equals the direct join.
      """SELECT c.c_mktsegment, count(*) AS n_orders,
        |  count(DISTINCT c.c_nationkey) AS n_nations,
        |  round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS price_sum
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin),

    // Extension: APPROXIMATE-DISTINCT IVM — the rollup maintainRollup
    // structurally cannot give (count-distinct is not additive): per-type
    // HLL register tables maintained from the change feed at O(batch +
    // shards·m) per refresh, never a source rescan. Register max is
    // associative + idempotent, so the maintained sketch is bit-identical
    // to a from-scratch sketch of the source — which is exactly what the
    // oracle recomputes; the idle refresh is a commit-free no-op and the
    // estimates land within 3 sigma of exact.
    Query("ingest_manifest_hll_ivm", (s, dir) => {
      val M = graft.sources.ManifestTable
      val src = scratch("hllivm_src")
      val agg = scratch("hllivm_agg")
      val ev = events(s, dir).select(col("event_id"), col("event_type"))
      var watermark = -1L
      Seq(0, 1, 2).foreach { slice =>
        M.append(s, src, ev.filter(col("event_id") % 3 === slice).coalesce(2))
        watermark = graft.ops.Sketches.maintainDistinctRollup(
          s, src, agg, watermark, "event_type",
          col("event_id").cast("string"))
      }
      val before = M.currentVersion(s, agg)
      graft.ops.Sketches.maintainDistinctRollup(
        s, src, agg, watermark, "event_type",
        col("event_id").cast("string")): Unit
      val after = M.currentVersion(s, agg)
      val est = graft.ops.Sketches.hllEstimate(M.read(s, agg))
      val exact = ev.groupBy(col("event_type").as("shard"))
        .agg(countDistinct(col("event_id")).as("nd_exact"))
      est.join(exact, "shard")
        .select(col("shard").as("event_type"), col("registers_used"),
          col("v_zero"), col("estimate"), col("corrected"), col("nd_exact"),
          (abs(col("estimate") - col("nd_exact")) / col("nd_exact") <=
            lit(3.0 * 1.04 / 16.0)).as("within_3sigma"),
          lit(after - before).as("idle_refresh_commits"))
    },
      // The maintained register table ≡ a from-scratch sketch of the source
      // (register max is associative + idempotent), so the oracle simply
      // recomputes the per-shard sketch estimate over the full feed; the
      // idle refresh being a no-op pins idle_refresh_commits at 0.
      """WITH keyed AS MATERIALIZED (
        |  SELECT CAST(event_id AS VARCHAR) AS k, event_type AS shard FROM events),
        |regs AS MATERIALIZED (
        |  SELECT shard,
        |    CAST(CONCAT('0x', substring(md5(k), 1, 2)) AS BIGINT) AS idx,
        |    MAX(CASE WHEN CAST(CONCAT('0x', substring(md5(k), 3, 13)) AS BIGINT) = 0
        |        THEN 53
        |        ELSE 53 - length(bin(CAST(CONCAT('0x', substring(md5(k), 3, 13)) AS BIGINT)))
        |        END) AS rho
        |  FROM keyed GROUP BY 1, 2),
        |agg AS MATERIALIZED (
        |  SELECT shard, COUNT(*) AS used,
        |    SUM(1::BIGINT << (53 - rho)) AS num_occ
        |  FROM regs GROUP BY shard),
        |fin AS MATERIALIZED (
        |  SELECT shard, used, 256 - used AS v,
        |    (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
        |      * 65536.0::DOUBLE * 9007199254740992.0::DOUBLE)
        |      / CAST(num_occ + (256 - used) * (1::BIGINT << 53) AS DOUBLE) AS raw
        |  FROM agg),
        |est AS MATERIALIZED (
        |  SELECT shard,
        |    CAST(used AS INT) AS registers_used,
        |    CAST(v AS INT) AS v_zero,
        |    round(CASE WHEN raw <= 640.0::DOUBLE AND v > 0
        |      THEN 256.0::DOUBLE * ln(256.0::DOUBLE / CAST(v AS DOUBLE))
        |      ELSE raw END, 4) AS estimate,
        |    (raw <= 640.0::DOUBLE AND v > 0) AS corrected
        |  FROM fin),
        |ex AS (SELECT shard, count(DISTINCT k) AS nd_exact FROM keyed GROUP BY 1)
        |SELECT e.shard AS event_type, e.registers_used, e.v_zero, e.estimate,
        |  e.corrected, x.nd_exact,
        |  (abs(e.estimate - x.nd_exact) / x.nd_exact
        |    <= 3.0::DOUBLE * 1.04::DOUBLE / sqrt(256.0::DOUBLE)) AS within_3sigma,
        |  0::BIGINT AS idle_refresh_commits
        |FROM est e JOIN ex x USING (shard)""".stripMargin),

    // Extension: METADATA-ONLY AGGREGATES — count(*) and min/max answered
    // from manifest lines with zero data-file reads (the Iceberg/Delta
    // fast path; at 100 TB this is the difference between a pointer-file
    // read and a full scan). The lifecycle exercises the exactness
    // contract: appends and copy-on-write deletes keep both answers exact
    // (stats rewrite with the files); a deletion-vector delete keeps the
    // COUNT exact (sidecar-cardinality subtraction) but demotes min/max
    // to bounds — the API refuses instead of guessing, and the in-row
    // gates compare every metadata answer against the scanned truth.
    Query("ingest_manifest_meta_agg", (s, dir) => {
      import s.implicits._
      val M = graft.sources.ManifestTable
      val out = scratch("meta_agg")
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      Seq(0, 1, 2).foreach { sl =>
        M.append(s, out, ev.filter(col("event_id") % 3 === sl).coalesce(2))
      }
      val n0 = M.countFromMetadata(s, out).get
      val mm0 = M.minMaxFromMetadata(s, out, "event_id").get
      // copy-on-write delete: touched files rewrite WITH fresh stats —
      // metadata answers stay exact
      M.deleteWhere(s, out, "event_id", 0.0, 99.0)
      val n1 = M.countFromMetadata(s, out).get
      val mm1 = M.minMaxFromMetadata(s, out, "event_id").get
      // deletion-vector delete: no data file changes — the count
      // subtracts the sidecar, min/max honestly refuses
      M.deleteVectorWhere(s, out, "event_id", 100.0, 149.0)
      val n2 = M.countFromMetadata(s, out).get
      val mm2Answerable = M.minMaxFromMetadata(s, out, "event_id").isDefined
      val ex = M.read(s, out)
        .agg(count(lit(1)).as("n"), min(col("event_id")).as("mn")).head()
      Seq((n0, mm0._1.toLong, mm0._2.toLong,
          n1, mm1._1.toLong, mm1._2.toLong,
          n2, mm2Answerable,
          n2 == ex.getLong(0), mm1._1.toLong == ex.getLong(1) - 50L))
        .toDF("n_meta0", "min_meta0", "max_meta0",
          "n_meta1", "min_meta1", "max_meta1",
          "n_meta2", "minmax_answerable_post_dv",
          "count_matches_scan", "cow_min_was_exact")
    },
      // Metadata answers recomputed from the delete semantics directly:
      // copy-on-write removes [0,99], the deletion vector then [100,149];
      // the count stays exact through both, min/max only through the first.
      """WITH alive1 AS (SELECT event_id FROM events WHERE event_id NOT BETWEEN 0 AND 99),
        |alive2 AS (SELECT event_id FROM alive1 WHERE event_id NOT BETWEEN 100 AND 149)
        |SELECT
        |  (SELECT count(*) FROM events) AS n_meta0,
        |  (SELECT min(event_id) FROM events) AS min_meta0,
        |  (SELECT max(event_id) FROM events) AS max_meta0,
        |  (SELECT count(*) FROM alive1) AS n_meta1,
        |  (SELECT min(event_id) FROM alive1) AS min_meta1,
        |  (SELECT max(event_id) FROM alive1) AS max_meta1,
        |  (SELECT count(*) FROM alive2) AS n_meta2,
        |  false AS minmax_answerable_post_dv,
        |  true AS count_matches_scan,
        |  true AS cow_min_was_exact""".stripMargin),

    // Extension: CHANGE DATA FEED — inserts AND row-level deletes between
    // two snapshots, never a table diff: inserts from the file-diff
    // change feed, deletes from the deletion-vector sidecars added in the
    // window joined back by (file, row-position) — the read cost is the
    // files that LOST rows. Net-change semantics: a row inserted and
    // DV-deleted inside the window shows only as a delete (a no-op for
    // any consumer, asserted by the oracle's id arithmetic).
    Query("ingest_manifest_cdf", (s, dir) => {
      val M = graft.sources.ManifestTable
      val out = scratch("cdf")
      val ev = events(s, dir).select(col("event_id"), col("user_id"))
      M.commit(s, out, stageSpread(s, ev.filter(col("event_id") < 4000)))
      val v0 = M.currentVersion(s, out)
      M.append(s, out,
        ev.filter(col("event_id") >= 4000 && col("event_id") < 5000))
      // deletes from the baseline AND from the window's own inserts
      M.deleteVectorWhere(s, out, "event_id", 100.0, 199.0)
      M.deleteVectorWhere(s, out, "event_id", 4500.0, 4599.0)
      val ins = M.readChangesSince(s, out, v0)
        .select(lit("insert").as("_change_type"),
          col("event_id"), col("user_id"))
      val del = M.readDeletesSince(s, out, v0)
        .select(lit("delete").as("_change_type"),
          col("event_id"), col("user_id"))
      ins.unionByName(del)
    },
      // The feed recomputed from the window semantics: inserts = the
      // appended slice minus its in-window deletes; deletes = both DV
      // ranges (baseline rows AND window inserts).
      """SELECT 'insert' AS _change_type, event_id, user_id FROM events
        |WHERE event_id >= 4000 AND event_id < 5000
        |  AND NOT (event_id BETWEEN 4500 AND 4599)
        |UNION ALL
        |SELECT 'delete' AS _change_type, event_id, user_id FROM events
        |WHERE event_id BETWEEN 100 AND 199
        |   OR event_id BETWEEN 4500 AND 4599""".stripMargin),

    // Extension: CROSS-TABLE JOIN-KEY OVERLAP from manifests alone — the
    // cost-based-planner statistic (FK coverage, semi-join selectivity)
    // for two 100 TB tables with ZERO data reads: each table's per-file
    // KMV sketches merge into its table-level sketch (the KMV merge law
    // makes the result identical to sketching the column directly,
    // whatever the file layout), and the Beyer et al. set-operation
    // estimators give Jaccard and intersection cardinality from ≤ 2k
    // longs of metadata. Exact distinct counts ride along as the gate.
    Query("ingest_manifest_join_card", (s, dir) => {
      val M = graft.sources.ManifestTable
      val oDir = scratch("jc_orders")
      val cDir = scratch("jc_cust")
      // a PARTIAL overlap: the custkeys of one order slice vs all
      // customers — the semi-join-selectivity question as asked
      val ord = table(s, dir, "orders")
        .filter(col("o_orderkey") % 4 === 0).select(col("o_custkey"))
      val cust = table(s, dir, "customer").select(col("c_custkey"))
      M.appendSlices(s, oDir,
        ord.withColumn("sl", format_string("%05d", col("o_custkey") % 3)),
        "sl", keepSliceCol = false)
      M.appendSlices(s, cDir,
        cust.withColumn("sl", format_string("%05d", col("c_custkey") % 2)),
        "sl", keepSliceCol = false)
      M.addNdvSketch(s, oDir, "o_custkey")
      M.addNdvSketch(s, cDir, "c_custkey")
      val ov = M.estimateKeyOverlap(s, oDir, "o_custkey", cDir, "c_custkey")
      ord.select(col("o_custkey").as("k"), lit("a").as("src"))
        .unionByName(cust.select(col("c_custkey").as("k"), lit("b").as("src")))
        .filter(col("k").isNotNull)
        // one key shuffle for all three exact counts (see kmvSetOps)
        .groupBy(col("k"))
        .agg(max(when(col("src") === "a", 1).otherwise(0)).as("__ina"),
          max(when(col("src") === "b", 1).otherwise(0)).as("__inb"))
        .agg(sum(col("__ina")).cast("long").as("nd_a"),
          sum(col("__inb")).cast("long").as("nd_b"),
          count(lit(1)).as("nd_union"))
        .select(
          round(lit(ov("est_a")), 4).as("est_a"),
          round(lit(ov("est_b")), 4).as("est_b"),
          round(lit(ov("est_union")), 4).as("est_union"),
          round(lit(ov("jaccard_est")), 6).as("jaccard_est"),
          round(lit(ov("est_intersection")), 4).as("est_intersection"),
          col("nd_a"), col("nd_b"), col("nd_union"),
          (col("nd_a") + col("nd_b") - col("nd_union")).as("nd_intersection"))
    },
      // The KMV merge law makes table-level sketches file-layout-
      // independent, so the oracle recomputes them straight from the
      // columns: k smallest distinct 60-bit md5 hashes per side, the union
      // sketch, membership counts, and the same estimator arithmetic.
      """WITH ska AS MATERIALIZED (SELECT h FROM (
        |    SELECT DISTINCT CAST(CONCAT('0x', substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |    FROM orders WHERE o_orderkey % 4 = 0) ORDER BY h LIMIT 64),
        |skb AS MATERIALIZED (SELECT h FROM (
        |    SELECT DISTINCT CAST(CONCAT('0x', substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |    FROM customer) ORDER BY h LIMIT 64),
        |m AS MATERIALIZED (SELECT h FROM (
        |    SELECT h FROM ska UNION SELECT h FROM skb) ORDER BY h LIMIT 64),
        |st AS (SELECT
        |  (SELECT count(*) FROM ska) AS ca, (SELECT max(h) FROM ska) AS ha,
        |  (SELECT count(*) FROM skb) AS cb, (SELECT max(h) FROM skb) AS hb,
        |  (SELECT count(*) FROM m) AS cm, (SELECT max(h) FROM m) AS hm,
        |  (SELECT count(*) FROM m WHERE h IN (SELECT h FROM ska)
        |     AND h IN (SELECT h FROM skb)) AS nb),
        |est AS (SELECT
        |  CASE WHEN ca < 64 THEN CAST(ca AS DOUBLE)
        |    ELSE 63.0::DOUBLE * 1152921504606846976.0::DOUBLE / CAST(ha AS DOUBLE) END AS est_a,
        |  CASE WHEN cb < 64 THEN CAST(cb AS DOUBLE)
        |    ELSE 63.0::DOUBLE * 1152921504606846976.0::DOUBLE / CAST(hb AS DOUBLE) END AS est_b,
        |  CASE WHEN cm < 64 THEN CAST(cm AS DOUBLE)
        |    ELSE 63.0::DOUBLE * 1152921504606846976.0::DOUBLE / CAST(hm AS DOUBLE) END AS est_union,
        |  CAST(nb AS DOUBLE) / cm AS j
        |  FROM st),
        |ex AS (SELECT
        |  count(DISTINCT CASE WHEN src = 'a' THEN k END) AS nd_a,
        |  count(DISTINCT CASE WHEN src = 'b' THEN k END) AS nd_b,
        |  count(DISTINCT k) AS nd_union
        |  FROM (SELECT o_custkey AS k, 'a' AS src FROM orders WHERE o_orderkey % 4 = 0
        |        UNION ALL SELECT c_custkey AS k, 'b' AS src FROM customer))
        |SELECT round(est_a, 4) AS est_a, round(est_b, 4) AS est_b,
        |  round(est_union, 4) AS est_union, round(j, 6) AS jaccard_est,
        |  round(j * est_union, 4) AS est_intersection,
        |  nd_a, nd_b, nd_union, (nd_a + nd_b - nd_union) AS nd_intersection
        |FROM est, ex""".stripMargin),

    // Extension: UNIQUE KEY constraint — the primary-key contract as a
    // table transaction gate: a batch repeating a key (within itself or
    // against the table) or carrying a null key is refused LOUDLY before
    // anything lands. The existing-key probe is stats-bounded (files
    // whose [min, max] overlaps the batch's key range — monotonic ingest
    // keys probe only the tail at any table size), and the constraint
    // header survives compaction like a CHECK.
    Query("ingest_manifest_unique", (s, dir) => {
      import s.implicits._
      val M = graft.sources.ManifestTable
      val out = scratch("unique_pk")
      val ev = events(s, dir).select(col("event_id"), col("user_id"))
      M.commit(s, out, stageSpread(s, ev.filter(col("event_id") < 5000)))
      M.addUnique(s, out, "event_id")
      M.append(s, out,
        ev.filter(col("event_id") >= 5000 && col("event_id") < 6000))
      def refused(body: => Any): Boolean =
        try { body; false } catch { case _: IllegalArgumentException => true }
      val batchDupRefused = refused(M.append(s, out,
        ev.filter(col("event_id") === 7000)
          .unionByName(ev.filter(col("event_id") === 7000))))
      val collisionRefused = refused(M.append(s, out,
        ev.filter(col("event_id") === 100)))
      val nullRefused = refused(M.append(s, out,
        ev.filter(col("event_id") === 7001)
          .select(lit(null).cast("long").as("event_id"), col("user_id"))))
      M.compactSorted(s, out, Seq("event_id"), targetFiles = 4)
      val carried = M.uniqueKeys(s, out) == Seq("event_id")
      Seq((M.countFromMetadata(s, out).get,
          batchDupRefused, collisionRefused, nullRefused, carried))
        .toDF("n_rows", "batch_dup_refused", "collision_refused",
          "null_refused", "constraint_survives_compaction")
    },
      // The UNIQUE gate's outcome is fully determined: only the two clean
      // appends landed; every refusal left the table untouched.
      """SELECT count(*) AS n_rows,
        |  true AS batch_dup_refused, true AS collision_refused,
        |  true AS null_refused, true AS constraint_survives_compaction
        |FROM events WHERE event_id < 6000""".stripMargin),

    // Extension: COMMIT LINEAGE — "which commit landed this row?" as a
    // _commit_version read column, derived from manifest history alone
    // (each file first appears in exactly one manifest; the #files-sized
    // map broadcasts into the scan). The contract is FILE lineage, stated
    // honestly: after a layout rewrite every row carries the rewrite
    // commit — proven by the post-compaction rows collapsing to one
    // version while the counts stay put.
    Query("ingest_manifest_lineage", (s, dir) => {
      val M = graft.sources.ManifestTable
      val out = scratch("lineage")
      val ev = events(s, dir).select(col("event_id"), col("event_type"))
      M.appendSlices(s, out,
        ev.withColumn("sl", format_string("%05d", col("event_id") % 3)),
        "sl", keepSliceCol = false)
      val base = M.versions(s, out).min
      val appends = M.readWithLineage(s, out)
        .groupBy((col("_commit_version") - lit(base)).as("commit_seq"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .select(lit("append").as("phase"), col("commit_seq"),
          col("n_rows"), col("min_id"), col("max_id"))
      M.compactSorted(s, out, Seq("event_id"), targetFiles = 3)
      val compacted = M.readWithLineage(s, out)
        .groupBy((col("_commit_version") - lit(base)).as("commit_seq"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .select(lit("compacted").as("phase"), col("commit_seq"),
          col("n_rows"), col("min_id"), col("max_id"))
      appends.unionByName(compacted)
    },
      // File lineage recomputed from the append semantics (slice s landed
      // in commit s), then the compaction collapse: one rewrite commit owns
      // every row, counts unchanged.
      """SELECT 'append' AS phase, CAST(event_id % 3 AS BIGINT) AS commit_seq,
        |  count(*) AS n_rows, min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 2
        |UNION ALL
        |SELECT 'compacted' AS phase, 3::BIGINT AS commit_seq,
        |  count(*) AS n_rows, min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events""".stripMargin),

    // Extension: PER-FILE KMV DISTINCT-COUNT SKETCHES in the manifest —
    // the join-planning statistic from metadata alone: each file carries
    // its k smallest md5 value-hashes; KMV merges exactly (union, keep k
    // smallest), so the TABLE-level NDV estimate never scans data. The
    // high-cardinality column exercises the (k−1)·2^60/h_k estimator,
    // the low-cardinality one the exact below-k path; the oracle
    // re-derives both from the same hashes.
    Query("ingest_manifest_ndv", (s, dir) => {
      import s.implicits._
      val out = scratch("manifest_ndv")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("bkt",
          format_string("%05d", graft.ops.Corpus.hashBucket(col("source"), 8)))
      graft.sources.ManifestTable.appendSlices(
        s, out, docs, "bkt", keepSliceCol = false)
      graft.sources.ManifestTable.addNdvSketch(s, out, "doc_id", k = 64)
      graft.sources.ManifestTable.addNdvSketch(s, out, "source", k = 64)
      val (eDoc, sDoc, tDoc) = graft.sources.ManifestTable
        .estimateDistinct(s, out, "doc_id")
      val (eSrc, sSrc, _) = graft.sources.ManifestTable
        .estimateDistinct(s, out, "source")
      graft.sources.ManifestTable.read(s, out)
        .agg(countDistinct(col("doc_id")).as("doc_exact"),
          countDistinct(col("source")).as("source_exact"))
        .select(lit(tDoc.toLong).as("n_files"),
          lit(sDoc.toLong).as("n_sketched_doc"),
          lit(sSrc.toLong).as("n_sketched_source"),
          round(lit(eDoc), 3).as("doc_ndv_estimate"),
          col("doc_exact"),
          round(lit(eSrc), 3).as("source_ndv_estimate"),
          col("source_exact"))
    },
      // Merged KMV = the global k smallest distinct hashes (every global
      // minimum is inside its own file's k smallest), so the oracle skips
      // the per-file step: k-th smallest distinct 60-bit hash → estimator;
      // the 20-source column stays below k and reads back exact.
      """WITH hd AS (SELECT DISTINCT
        |    (('0x'||substr(md5(doc_id::VARCHAR),1,15))::UBIGINT)::BIGINT AS h
        |  FROM documents),
        |kd AS (SELECT h FROM hd ORDER BY h LIMIT 64),
        |ed AS (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |    ELSE 63.0 * 1152921504606846976.0 / max(h) END AS e FROM kd),
        |hs AS (SELECT DISTINCT
        |    (('0x'||substr(md5(source),1,15))::UBIGINT)::BIGINT AS h
        |  FROM documents),
        |ks AS (SELECT h FROM hs ORDER BY h LIMIT 64),
        |es AS (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |    ELSE 63.0 * 1152921504606846976.0 / max(h) END AS e FROM ks),
        |fl AS (SELECT CAST(count(DISTINCT
        |    (('0x'||substr(md5(source),1,7))::UBIGINT)::BIGINT % 8) AS BIGINT) AS n
        |  FROM documents)
        |SELECT fl.n AS n_files, fl.n AS n_sketched_doc, fl.n AS n_sketched_source,
        |  round(ed.e, 3) AS doc_ndv_estimate,
        |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents) AS doc_exact,
        |  round(es.e, 3) AS source_ndv_estimate,
        |  (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents) AS source_exact
        |FROM fl, ed, es""".stripMargin),

    // Extension: PER-FILE BLOOM FILTERS in the manifest — the
    // point-lookup complement to min/max zone maps: doc_id is scattered
    // across the source-bucketed files, so range stats skip nothing, but
    // each file's md5-derived bloom answers "certainly absent" from the
    // manifest alone (zero footers or data opened at plan time). The
    // oracle rebuilds every file's bloom bit-for-bit and derives the
    // same kept-file census; an absent id's lookup may keep only
    // false-positive files and finds zero rows.
    Query("ingest_manifest_bloom", (s, dir) => {
      import s.implicits._
      val out = scratch("manifest_bloom")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("bkt",
          format_string("%05d", graft.ops.Corpus.hashBucket(col("source"), 8)))
      // one partitioned write job stages every bucket; per-bucket append
      // transactions land in bucket order (identical version history to
      // the old append-per-bucket loop)
      graft.sources.ManifestTable.appendSlices(
        s, out, docs, "bkt", keepSliceCol = false)
      graft.sources.ManifestTable.addBloom(s, out, "doc_id", words = 64, k = 4)
      val rows = Seq(5L, 123L, 999999L).map { p =>
        val (kept, total) = graft.sources.ManifestTable
          .pruneByBloom(s, out, "doc_id", p.toString)
        val n = graft.sources.ManifestTable
          .readWhereEqualsBloom(s, out, "doc_id", p.toString).count()
        (p, total.toLong, kept.size.toLong, n)
      }
      rows.toDF("probe_id", "n_files_total", "n_files_kept", "n_rows")
    },
      // The same 8 source-hash buckets, each file's 4096-bit bloom rebuilt
      // from the same 4 md5-derived positions per doc_id; a file is kept
      // iff it holds ALL of the probe's positions.
      """WITH b AS (SELECT doc_id,
        |    (('0x'||substr(md5(source),1,7))::UBIGINT)::BIGINT % 8 AS bkt
        |  FROM documents),
        |pos AS (SELECT bkt,
        |    (('0x'||substr(md5(doc_id::VARCHAR), 1+5*j, 5))::UBIGINT)::BIGINT % 4096 AS p
        |  FROM b, generate_series(0, 3) g(j)),
        |pset AS (SELECT bkt, list(DISTINCT p) AS ps FROM pos GROUP BY 1),
        |probes AS (SELECT CAST(probe_id AS BIGINT) AS probe_id
        |  FROM (VALUES (5), (123), (999999)) t(probe_id)),
        |pp AS (SELECT probe_id,
        |    list(DISTINCT (('0x'||substr(md5(probe_id::VARCHAR), 1+5*j, 5))::UBIGINT)::BIGINT % 4096) AS plist
        |  FROM probes, generate_series(0, 3) g(j) GROUP BY 1),
        |kept AS (SELECT pp.probe_id, CAST(count(*) AS BIGINT) AS n_kept
        |  FROM pp, pset WHERE list_has_all(pset.ps, pp.plist) GROUP BY 1)
        |SELECT pp.probe_id,
        |  (SELECT CAST(count(DISTINCT bkt) AS BIGINT) FROM b) AS n_files_total,
        |  COALESCE(kept.n_kept, 0) AS n_files_kept,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |     WHERE doc_id = pp.probe_id) AS n_rows
        |FROM pp LEFT JOIN kept ON kept.probe_id = pp.probe_id""".stripMargin),

    // Extension: NAMED TAGS pin snapshots — tag the full table "audit",
    // erase a language with a deletion vector, vacuum with zero
    // retention: the tagged snapshot (manifest + files) survives the
    // sweep and reads back bit-identically while CURRENT shows the
    // erased view. The oracle derives both views from the raw table.
    Query("ingest_manifest_tag", (s, dir) => {
      import s.implicits._
      val out = scratch("manifest_tag")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.ManifestTable.appendSlices(
        s, out, docs, "lang", keepSliceCol = true)
      val vAll = graft.sources.ManifestTable.currentVersion(s, out)
      graft.sources.ManifestTable.tag(s, out, "audit", vAll)
      graft.sources.ManifestTable.deleteVectorWhereEquals(s, out, "lang", "en")
      graft.sources.ManifestTable.vacuum(s, out, retainStagedMillis = 0L)
      val tagAgg = graft.sources.ManifestTable.readTag(s, out, "audit")
        .agg(count(lit(1)).as("n_rows_tag"),
          sum(col("n_chars")).as("chars_sum_tag"))
      val curAgg = graft.sources.ManifestTable.read(s, out)
        .agg(count(lit(1)).as("n_rows_current"),
          sum(col("n_chars")).as("chars_sum_current"))
      tagAgg.crossJoin(curAgg)
        .select(lit(vAll).as("tag_version"), col("n_rows_tag"),
          col("chars_sum_tag"), col("n_rows_current"),
          col("chars_sum_current"))
    },
      // One append per language (versions 0..n-1), so the tagged full
      // snapshot is version n-1; the tag view is the whole table, the
      // current view is the erased complement.
      """SELECT
        |  (SELECT CAST(count(DISTINCT lang) - 1 AS BIGINT) FROM documents) AS tag_version,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows_tag,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents) AS chars_sum_tag,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |     WHERE lang <> 'en') AS n_rows_current,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
        |     WHERE lang <> 'en') AS chars_sum_current""".stripMargin),

    // Extension: MERGE-ON-READ DELETE via deletion vectors — no data
    // file is rewritten; matching (file, row-index) positions land in a
    // tiny parquet sidecar recorded in the manifest header, and every
    // read subtracts them by broadcast anti-join (Delta/Iceberg's
    // position-delete shape). Two overlapping deletes prove vectors
    // accumulate MINIMALLY (the second lists only rows the first did
    // not already delete), and the unchanged-file census proves the
    // merge-on-read claim. The oracle derives the same census and the
    // complement content from the raw table.
    Query("ingest_manifest_dv", (s, dir) => {
      import s.implicits._
      val out = scratch("manifest_dv")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("band",
          format_string("%05d", floor(col("n_chars") / 128).cast("long")))
      graft.sources.ManifestTable.appendSlices(
        s, out, docs, "band", keepSliceCol = false)
      val before = graft.sources.ManifestTable.currentFiles(s, out)
      graft.sources.ManifestTable.deleteVectorWhere(s, out, "n_chars", 100.0, 200.0)
      graft.sources.ManifestTable.deleteVectorWhere(s, out, "n_chars", 150.0, 300.0)
      val after = graft.sources.ManifestTable.currentFiles(s, out)
      val unchanged = before.count(after.contains)
      val nVec = graft.sources.ManifestTable.currentDeleteVectors(s, out).size
      val dvRows = graft.sources.ManifestTable.deleteVectorRowCount(s, out)
      graft.sources.ManifestTable.read(s, out)
        .agg(count(lit(1)).as("n_rows_after"),
          sum(col("n_chars")).as("chars_sum_after"))
        .select(lit(before.size.toLong).as("n_files_before"),
          lit(unchanged.toLong).as("n_files_unchanged"),
          lit(nVec.toLong).as("n_vectors"),
          lit(dvRows).as("dv_positions"),
          col("n_rows_after"), col("chars_sum_after"))
    },
      // Merge-on-read census: every band file survives both deletes
      // untouched; the two vectors' positions union to one interval
      // (the second only lists rows the first left live).
      """WITH f AS (
        |  SELECT CAST(floor(n_chars / 128) AS BIGINT) AS band
        |  FROM documents GROUP BY 1)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_files_before,
        |  (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_files_unchanged,
        |  CAST(2 AS BIGINT) AS n_vectors,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |     WHERE n_chars BETWEEN 100 AND 300) AS dv_positions,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |     WHERE n_chars NOT BETWEEN 100 AND 300) AS n_rows_after,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
        |     WHERE n_chars NOT BETWEEN 100 AND 300) AS chars_sum_after""".stripMargin),

    // Extension: MERGE (batch upsert) as ONE manifest transaction — the
    // Delta MERGE-INTO shape: per key the highest version wins (update
    // side breaks exact ties), new keys insert, and the merged snapshot
    // commits by a single pointer swap. The oracle replays the same
    // merge relationally (anti-join + union + per-key winner).
    Query("ingest_manifest_merge", (s, dir) => {
      val out = scratch("manifest_merge")
      val base = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          lit(0L).as("version"))
      graft.sources.ManifestTable.commit(s, out, base)
      val updates = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 1000L).as("n_chars"), lit(1L).as("version"))
        .unionByName(base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 500000L).as("doc_id"), col("source"),
            col("n_chars"), lit(1L).as("version")))
      graft.sources.ManifestTable.mergeInto(s, out, updates, "doc_id", "version")
      graft.sources.ManifestTable.read(s, out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("chars_sum"),
          sum(col("version")).as("version_sum"))
    },
      // The same MERGE replayed relationally: updated keys take the
      // update row, untouched keys keep the base row, new keys insert.
      """WITH base AS (SELECT doc_id, source, n_chars, 0 AS version FROM documents),
        |upd AS (
        |  SELECT doc_id, source, n_chars + 1000 AS n_chars, 1 AS version
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 500000, source, n_chars, 1
        |  FROM documents WHERE doc_id % 7 = 0),
        |merged AS (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT * FROM base b WHERE NOT EXISTS
        |    (SELECT 1 FROM upd u WHERE u.doc_id = b.doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |  CAST(sum(version) AS BIGINT) AS version_sum
        |FROM merged GROUP BY 1""".stripMargin),

    // Extension: append with SCHEMA EVOLUTION — the batch carries a NEW
    // column as one append transaction; the manifest schema advances and
    // the evolved read resolves pre-evolution files with nulls (add-only:
    // dropping or retyping still refuses loudly). The oracle assembles
    // the same union with nulls on the old slice.
    Query("ingest_manifest_evolve", (s, dir) => {
      val out = scratch("manifest_evolve")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.ManifestTable.commit(s, out, docs.filter(col("doc_id") % 2 === 0))
      graft.sources.ManifestTable.appendEvolve(s, out,
        docs.filter(col("doc_id") % 2 === 1)
          .withColumn("quality", col("n_chars").cast("double") / 100.0))
      graft.sources.ManifestTable.readEvolved(s, out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("quality")).as("n_with_quality"),
          round(sum(col("quality").cast(org.apache.spark.sql.types.DecimalType(27, 12)))
            .cast("double"), 6).as("quality_sum"))
    },
      // The evolved union: the pre-evolution slice carries null quality.
      """WITH u AS (
        |  SELECT doc_id, source, n_chars, NULL::DOUBLE AS quality
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, source, n_chars, CAST(n_chars AS DOUBLE) / 100.0
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(quality) AS BIGINT) AS n_with_quality,
        |  round(CAST(sum(CAST(quality AS DECIMAL(27,12))) AS DOUBLE), 6) AS quality_sum
        |FROM u GROUP BY 1""".stripMargin),

    // Extension: CATEGORICAL file skipping — string min/max manifest
    // stats answer an equality predicate: with a per-language layout
    // (min = max = the language) the prune is perfect, an equality scan
    // opens exactly the matching files. The oracle re-derives the file
    // census from the content (one file per distinct language) and the
    // row aggregate from the raw predicate.
    Query("ingest_zonemap_point", (s, dir) => {
      import s.implicits._
      val out = scratch("manifest_zonemap_pt")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val langs = docs.select(col("lang")).distinct().as[String].collect().sorted
      langs.foreach { l =>
        graft.sources.ManifestTable.append(s, out,
          docs.filter(col("lang") === l).coalesce(1))
      }
      val (kept, total) = graft.sources.ManifestTable
        .pruneByEquals(s, out, "lang", "en")
      graft.sources.ManifestTable.readWhereEquals(s, out, "lang", "en")
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("chars_sum"))
        .select(lit(total.toLong).as("n_files_total"),
          lit(kept.size.toLong).as("n_files_scanned"),
          col("n_rows"), col("chars_sum"))
    },
      // One file per distinct language; only the 'en' file survives the
      // equality prune.
      """SELECT
        |  (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents) AS n_files_total,
        |  (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents
        |     WHERE lang = 'en') AS n_files_scanned,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |     WHERE lang = 'en') AS n_rows,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
        |     WHERE lang = 'en') AS chars_sum""".stripMargin),

    // Extension: the manifest statistics as a queryable metadata table
    // (Delta DESCRIBE DETAIL / Iceberg files-table shape) — per-file
    // min/max/null-count for two int64 columns over the zone-clustered
    // fixture above; the oracle recomputes every row from the content
    // (per-band min/max), proving the footer-derived stats are EXACT.
    Query("ingest_manifest_stats", (s, dir) => {
      import s.implicits._
      val out = scratch("manifest_statstbl")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .withColumn("band", floor(col("n_chars") / 1024).cast("long"))
      val bands = docs.select(col("band")).distinct()
        .as[Long].collect().sorted
      bands.foreach { b =>
        graft.sources.ManifestTable.append(s, out,
          docs.filter(col("band") === b).drop("band").coalesce(1))
      }
      val stats = graft.sources.ManifestTable.currentStats(s, out)
        .filter(cs => cs.dtype == "int64")
        .map(cs => (cs.column, cs.min.get.toLong, cs.max.get.toLong, cs.nullCount))
      stats.toDF("column_name", "min_value", "max_value", "n_nulls")
    },
      // The manifest's footer-derived per-file stats must equal the exact
      // per-band content min/max for both recorded columns.
      """WITH b AS (
        |  SELECT CAST(floor(n_chars / 1024) AS BIGINT) AS band, n_chars, doc_id
        |  FROM documents)
        |SELECT 'doc_id' AS column_name, CAST(min(doc_id) AS BIGINT) AS min_value,
        |  CAST(max(doc_id) AS BIGINT) AS max_value, CAST(0 AS BIGINT) AS n_nulls
        |FROM b GROUP BY band
        |UNION ALL
        |SELECT 'n_chars', CAST(min(n_chars) AS BIGINT),
        |  CAST(max(n_chars) AS BIGINT), CAST(0 AS BIGINT)
        |FROM b GROUP BY band""".stripMargin),

    // Extension: parquet footer statistics — per-row-group metadata read
    // (no data pages), verified by agreeing with the content-derived
    // truth: footer row counts sum to the scan count, schema width 5.
    Query("ingest_parquet_footer", (s, dir) =>
      graft.sources.Ingest.parquetFooterStats(s, s"$dir/documents.parquet")
        .groupBy(col("file_name"))
        .agg(sum(col("n_rows")).as("n_rows"),
          max(col("n_columns")).as("n_cols")),
      // The footer must agree with the content: row counts sum to the scan
      // count and the schema width is the table's column count.
      """SELECT 'documents.parquet' AS file_name, count(*) AS n_rows,
        |  5 AS n_cols
        |FROM documents""".stripMargin),

    // Extension: ORC format parity — the same engine must read archives
    // that arrive as ORC. Roundtrip documents parquet→ORC→DataFrame and
    // prove content fidelity (distinct text-md5 count survives, longs and
    // strings intact); the oracle aggregates the original parquet, so any
    // roundtrip corruption hash-mismatches.
    Query("ingest_orc", (s, dir) => {
      val out = scratch("orc_docs")
      table(s, dir, "documents").write.mode("overwrite").orc(out)
      s.read.orc(out).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    },
      // Aggregates the ORIGINAL parquet — the Spark side aggregates the ORC
      // roundtrip, so the compare is the fidelity proof.
      langSummaryOracleSql),

    // Extension: XML format parity (Spark 4's native XML source) —
    // documents roundtrip through row-tagged XML; the md5 census proves
    // content fidelity through the markup encode/decode, exactly the
    // ingest_orc contract. Text goes through XML escaping and back.
    Query("ingest_xml", (s, dir) => {
      val out = scratch("xml_docs")
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
        .write.mode("overwrite").format("xml")
        .option("rootTag", "docs").option("rowTag", "doc").save(out)
      s.read.format("xml").option("rowTag", "doc").load(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    },
      // The XML roundtrip preserves every value bit-for-bit.
      langSummaryOracleSql)
  )
}
