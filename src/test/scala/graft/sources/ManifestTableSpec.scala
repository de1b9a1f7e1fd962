package graft.sources

import graft.plug.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The atomic-commit contract: readers resolve pointer → manifest → file
  * list, so a crash ANYWHERE between data-file publish and the pointer
  * swap must leave the previous snapshot bit-identical — never a torn
  * table. */
class ManifestTableSpec extends AnyFlatSpec with Matchers {
  lazy val spark = TestSpark.session
  import spark.implicits._

  behavior of "ManifestTable"

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_manifest").toString

  private def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  it should "commit and read back snapshots, latest winning" in {
    val dir = tmpDir()
    try {
      val v0 = (0L until 100L).map(i => (i, s"a$i")).toDF("id", "v")
      ManifestTable.commit(spark, dir, v0)
      ManifestTable.currentVersion(spark, dir) shouldBe 0L
      ManifestTable.read(spark, dir).count() shouldBe 100

      val v1 = (0L until 250L).map(i => (i, s"b$i")).toDF("id", "v")
      ManifestTable.commit(spark, dir, v1)
      ManifestTable.currentVersion(spark, dir) shouldBe 1L
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 250
      back.filter(col("v").startsWith("a")).count() shouldBe 0
    } finally rm(dir)
  }

  it should "append slices with version history identical to a serial append loop" in {
    val dirA = tmpDir(); val dirB = tmpDir()
    try {
      val df = (0L until 90L).map(i => (i, i % 3, s"v$i")).toDF("id", "g", "v")
      // serial loop (the reference behavior)
      (0L until 3L).foreach { g =>
        ManifestTable.append(spark, dirA,
          df.filter(col("g") === g).drop("g").coalesce(1)): Unit
      }
      // one-job slice staging
      ManifestTable.appendSlices(spark, dirB,
        df.withColumn("sl", format_string("%05d", col("g"))).drop("g"),
        "sl", keepSliceCol = false)
      ManifestTable.currentVersion(spark, dirB) shouldBe
        ManifestTable.currentVersion(spark, dirA)
      // every VERSION's content matches the loop's, not just the head
      (0L to ManifestTable.currentVersion(spark, dirA)).foreach { v =>
        val a = ManifestTable.readVersion(spark, dirA, v)
          .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
        val b = ManifestTable.readVersion(spark, dirB, v)
          .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
        b shouldBe a
      }
      // the kept-slice-column variant retains the column in content
      val dirC = tmpDir()
      try {
        ManifestTable.appendSlices(spark, dirC,
          df.select(col("id"), col("v"), format_string("g%01d", col("g")).as("g")),
          "g", keepSliceCol = true)
        ManifestTable.read(spark, dirC).columns.sorted shouldBe
          Array("g", "id", "v")
        ManifestTable.read(spark, dirC).count() shouldBe 90
      } finally rm(dirC)
    } finally { rm(dirA); rm(dirB) }
  }

  it should "keep the previous snapshot intact when a commit crashes before the pointer swap" in {
    val dir = tmpDir()
    try {
      val v0 = (0L until 100L).map(i => (i, i * 2)).toDF("id", "x")
      ManifestTable.commit(spark, dir, v0)
      val before = ManifestTable.read(spark, dir)
        .agg(count(lit(1)), sum("x")).collect()(0)

      // crash injection: stage publishes data files AND the manifest,
      // then the writer dies before publish() — the exact window the
      // rename-aside protocol is vulnerable in
      val staged = ManifestTable.stage(spark, dir,
        (0L until 999L).map(i => (i, -1L)).toDF("id", "x"))
      staged.version shouldBe 1L

      // a reader arriving now sees the OLD snapshot, bit-identical
      ManifestTable.currentVersion(spark, dir) shouldBe 0L
      val after = ManifestTable.read(spark, dir)
        .agg(count(lit(1)), sum("x")).collect()(0)
      after shouldBe before

      // recovery path A: the writer retries and publishes
      ManifestTable.publish(spark, dir, staged)
      ManifestTable.read(spark, dir).count() shouldBe 999
    } finally rm(dir)
  }

  it should "vacuum orphaned files from a crashed commit without touching live ones" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 50L).map(i => (i, s"keep$i")).toDF("id", "v"))
      // recovery path B: the crashed commit is abandoned; its files are
      // orphans no manifest the pointer names references. retention 0 =
      // the known-no-writers sweep that treats staged commits as crashed
      ManifestTable.stage(spark, dir,
        (0L until 500L).map(i => (i, "orphan")).toDF("id", "v"))
      val deleted = ManifestTable.vacuum(spark, dir, retainStagedMillis = 0L)
      deleted should be > 0
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 50
      back.filter(col("v") === "orphan").count() shouldBe 0
    } finally rm(dir)
  }

  it should "skip the commit on an empty appendIfNonEmpty at one evaluation" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 10L).map(i => (i, s"a$i")).toDF("id", "v"))
      val v0 = ManifestTable.currentVersion(spark, dir)
      def dataDirs() = Option(new java.io.File(dir, "data").listFiles())
        .toSeq.flatten.map(_.getName).toSet
      val dirs0 = dataDirs()
      // empty frame: no version claimed, no staged files left behind
      val none = ManifestTable.appendIfNonEmpty(spark, dir,
        (0L until 10L).map(i => (i, s"a$i")).toDF("id", "v").filter(col("id") < 0))
      none shouldBe None
      ManifestTable.currentVersion(spark, dir) shouldBe v0
      dataDirs() shouldBe dirs0
      // non-empty: identical to a plain append
      val some = ManifestTable.appendIfNonEmpty(spark, dir,
        (10L until 15L).map(i => (i, s"b$i")).toDF("id", "v"))
      some.isDefined shouldBe true
      ManifestTable.currentVersion(spark, dir) shouldBe v0 + 1
      ManifestTable.read(spark, dir).count() shouldBe 15
    } finally rm(dir)
  }

  it should "append incrementally without rewriting existing data files" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 50L).map(i => (i, s"base$i")).toDF("id", "v"))
      val baseFiles = ManifestTable.currentFiles(spark, dir).toSet
      val baseStamps = baseFiles.map(p => p -> new java.io.File(
        new java.net.URI(p).getPath).lastModified()).toMap
      ManifestTable.append(spark, dir,
        (100L until 130L).map(i => (i, s"inc$i")).toDF("id", "v"))
      val now = ManifestTable.currentFiles(spark, dir).toSet
      baseFiles.subsetOf(now) shouldBe true // old files carried forward…
      baseFiles.foreach { p =>              // …and untouched on disk
        new java.io.File(new java.net.URI(p).getPath)
          .lastModified() shouldBe baseStamps(p)
      }
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 80
      back.filter(col("v").startsWith("inc")).count() shouldBe 30
    } finally rm(dir)
  }

  it should "replace only the touched partitions, carrying untouched files forward" in {
    val dir = tmpDir()
    try {
      val base = (0L until 300L).map(i => (i, s"p${i % 3}", s"v$i")).toDF("id", "part", "v")
      ManifestTable.replacePartitions(spark, dir, base, "part")
      val before = ManifestTable.currentFiles(spark, dir)
      val untouchedBefore = before.filter(_.contains("/__p=p2/")).toSet
      untouchedBefore should not be empty

      // overwrite ONLY p0 and p1 with a 10-row slice
      val patch = (1000L until 1010L).map(i => (i, s"p${i % 2}", "patched"))
        .toDF("id", "part", "v")
      ManifestTable.replacePartitions(spark, dir, patch, "part")
      val after = ManifestTable.currentFiles(spark, dir)
      // p2's files are the SAME files, carried by reference
      after.filter(_.contains("/__p=p2/")).toSet shouldBe untouchedBefore
      // p0/p1 files are all new
      after.filter(f => f.contains("/__p=p0/") || f.contains("/__p=p1/"))
        .toSet.intersect(before.toSet) shouldBe empty

      val back = ManifestTable.readPartitioned(spark, dir)
      back.filter(col("part") === "p2").count() shouldBe 100
      back.filter(col("v") === "patched").count() shouldBe 10
      back.count() shouldBe 110
      // partition column recovered from the path segments
      back.select("part").distinct().collect().map(_.getString(0)).sorted shouldBe
        Array("p0", "p1", "p2")
      // vacuum reaches the nested partition layout and the table is intact
      ManifestTable.vacuum(spark, dir) should be > 0
      ManifestTable.readPartitioned(spark, dir).count() shouldBe 110
    } finally rm(dir)
  }

  it should "time-travel to any unvacuumed version and fail cleanly after vacuum" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 100L).map(i => (i, i)).toDF("id", "x"))
      ManifestTable.commit(spark, dir,
        (0L until 40L).map(i => (i, -i)).toDF("id", "x"))
      ManifestTable.versions(spark, dir) shouldBe Seq(0L, 1L)
      ManifestTable.readVersion(spark, dir, 0L).count() shouldBe 100
      ManifestTable.readVersion(spark, dir, 1L).count() shouldBe 40
      ManifestTable.read(spark, dir).count() shouldBe 40
      ManifestTable.vacuum(spark, dir)
      ManifestTable.versions(spark, dir) shouldBe Seq(1L)
      val e = intercept[IllegalArgumentException] {
        ManifestTable.readVersion(spark, dir, 0L)
      }
      e.getMessage should include("vacuumed")
    } finally rm(dir)
  }

  it should "cluster into files with disjoint sort-key ranges under compactSorted" in {
    val dir = tmpDir()
    try {
      val rnd = new scala.util.Random(5)
      val docs = (0L until 2000L).map(i => (i, rnd.nextInt(100000).toLong))
        .toDF("doc_id", "x")
      ManifestTable.commit(spark, dir, docs.repartition(16)) // key-shuffled layout
      ManifestTable.compactSorted(spark, dir, Seq("x"), targetFiles = 4)
      val files = ManifestTable.currentFiles(spark, dir)
      files.size shouldBe 4
      // per-file [min, max] of the sort key must be pairwise disjoint —
      // the property parquet min/max stats turn into whole-file skipping
      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col("x")), max(col("x"))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => hi should be <= lo2
        case _ =>
      }
      ManifestTable.read(spark, dir).agg(sum("doc_id")).collect()(0)
        .getLong(0) shouldBe (0L until 2000L).sum
    } finally rm(dir)
  }

  it should "read only the rows added since a remembered version" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 100L).map(i => (i, "base")).toDF("id", "tag"))
      ManifestTable.append(spark, dir,
        (100L until 130L).map(i => (i, "b1")).toDF("id", "tag"))
      ManifestTable.append(spark, dir,
        (200L until 210L).map(i => (i, "b2")).toDF("id", "tag"))
      val delta = ManifestTable.readChangesSince(spark, dir, 0L)
      delta.count() shouldBe 40 // both appends, never the base
      delta.select("tag").distinct().collect().map(_.getString(0)).sorted shouldBe
        Array("b1", "b2")
      ManifestTable.readChangesSince(spark, dir, 1L).count() shouldBe 10
      // caught up: empty frame with the table schema
      val none = ManifestTable.readChangesSince(spark, dir, 2L)
      none.count() shouldBe 0
      none.columns.toSeq shouldBe Seq("id", "tag")
    } finally rm(dir)
  }

  it should "refuse the pointer swap when another writer committed since staging" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir, (0L until 10L).map(i => (i, i)).toDF("id", "x"))
      // writer A stages v1…
      val a = ManifestTable.stage(spark, dir, (0L until 5L).map(i => (i, -i)).toDF("id", "x"))
      // …writer B commits v1 first
      ManifestTable.commit(spark, dir, (0L until 7L).map(i => (i, i * 10)).toDF("id", "x"))
      // A's swap would silently drop B's commit — refused instead
      an[java.util.ConcurrentModificationException] should be thrownBy
        ManifestTable.publish(spark, dir, a)
      // B's snapshot is intact; A re-stages against it and succeeds
      ManifestTable.read(spark, dir).count() shouldBe 7
      ManifestTable.commit(spark, dir, (0L until 5L).map(i => (i, -i)).toDF("id", "x"))
      ManifestTable.read(spark, dir).count() shouldBe 5
    } finally rm(dir)
  }

  it should "refuse appends and partition replaces whose schema drifted" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"))
      // renamed column
      val e1 = intercept[IllegalArgumentException] {
        ManifestTable.append(spark, dir,
          (10L until 20L).map(i => (i, s"v$i")).toDF("id", "w"))
      }
      e1.getMessage should include("append schema mismatch")
      // same name, different type
      an[IllegalArgumentException] should be thrownBy ManifestTable.append(
        spark, dir, (10L until 20L).map(i => (i, i)).toDF("id", "v"))
      // column ORDER is not drift — append succeeds
      ManifestTable.append(spark, dir,
        (10L until 15L).map(i => (s"v$i", i)).toDF("v", "id"))
      ManifestTable.read(spark, dir).count() shouldBe 15
    } finally rm(dir)
  }

  it should "compact by pointer swap with no reader-visible window and no directory rename" in {
    val dir = tmpDir()
    try {
      val docs = (0L until 500L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      ManifestTable.commit(spark, dir, docs.repartition(20))
      ManifestTable.currentFiles(spark, dir).size shouldBe 20
      ManifestTable.compact(spark, dir, targetFiles = 2)
      ManifestTable.currentFiles(spark, dir).size shouldBe 2
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 500
      back.agg(sum("doc_id")).collect()(0).getLong(0) shouldBe (0L until 500L).sum
      // pre-compaction files still on disk for in-flight readers…
      ManifestTable.vacuum(spark, dir) shouldBe 20
      // …and the table reads identically after the sweep
      ManifestTable.read(spark, dir).count() shouldBe 500
    } finally rm(dir)
  }

  it should "record exact per-file column stats at commit and carry them across appends" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 100L).map(i => (i, s"s$i")).toDF("id", "s").coalesce(1))
      ManifestTable.append(spark, dir,
        (100L until 250L).map(i => (i, s"s$i")).toDF("id", "s").coalesce(1))
      val stats = ManifestTable.currentStats(spark, dir)
      stats.map(_.file).distinct.size shouldBe 2
      val idStats = stats.filter(_.column == "id").sortBy(_.min.get.toLong)
      idStats.map(cs => (cs.min.get.toLong, cs.max.get.toLong)) shouldBe
        Seq((0L, 99L), (100L, 249L))
      idStats.foreach(_.dtype shouldBe "int64")
      idStats.foreach(_.nullCount shouldBe 0L)
      // string column stats recorded too, in UTF-8 order
      val sStats = stats.filter(_.column == "s")
      sStats.size shouldBe 2
      sStats.foreach(_.dtype shouldBe "string")
      sStats.map(_.min.get).sorted.head shouldBe "s0"
    } finally rm(dir)
  }

  it should "prune files by manifest stats and read identically to a full filtered scan" in {
    val dir = tmpDir()
    try {
      // three disjoint zones, one file each
      Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
        ManifestTable.append(spark, dir,
          r.map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
      }
      val (kept, total) = ManifestTable.pruneByRange(spark, dir, "id", 120.0, 180.0)
      total shouldBe 3
      kept.size shouldBe 1 // only the middle zone survives
      val pruned = ManifestTable.readBetween(spark, dir, "id", 120.0, 180.0)
      val full = ManifestTable.read(spark, dir)
        .filter(col("id").between(120, 180))
      pruned.collect().map(_.getLong(0)).sorted shouldBe
        full.collect().map(_.getLong(0)).sorted
      // an empty window prunes everything and reads an empty frame
      val (none, _) = ManifestTable.pruneByRange(spark, dir, "id", 500.0, 600.0)
      none shouldBe empty
      ManifestTable.readBetween(spark, dir, "id", 500.0, 600.0).count() shouldBe 0
    } finally rm(dir)
  }

  it should "keep files conservatively when stats are absent for the column" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 50L).map(i => (i, Seq(i.toDouble))).toDF("id", "arr").coalesce(1))
      // nested/array columns carry no manifest stat -> never pruned on them
      val (kept, total) = ManifestTable.pruneByRange(spark, dir, "arr", 0.0, 1.0)
      kept.size shouldBe total
      // a legacy manifest with its stats lines stripped still reads AND never prunes
      val f = new java.io.File(dir, "CURRENT")
      val name = new String(java.nio.file.Files.readAllBytes(f.toPath)).trim
      val mf = new java.io.File(new java.io.File(dir, "_manifests"), name)
      val lines = scala.io.Source.fromFile(mf).getLines().toSeq
      java.nio.file.Files.write(mf.toPath,
        lines.filterNot(_.startsWith("#stats=")).mkString("\n").getBytes)
      // the raw rewrite invalidates LocalFileSystem's checksum sidecar
      new java.io.File(mf.getParentFile, s".${mf.getName}.crc").delete()
      ManifestTable.currentStats(spark, dir) shouldBe empty
      val (kept2, total2) = ManifestTable.pruneByRange(spark, dir, "id", 500.0, 600.0)
      kept2.size shouldBe total2 // cannot skip without stats
      ManifestTable.read(spark, dir).count() shouldBe 50
    } finally rm(dir)
  }

  it should "carry only surviving files' stats through replacePartitions" in {
    val dir = tmpDir()
    try {
      val df = (0L until 100L)
        .map(i => (i, if (i < 50) "a" else "b")).toDF("id", "p")
      ManifestTable.replacePartitions(spark, dir, df.repartition(col("p")), "p")
      // rewrite partition "a" only, halved
      val fix = (0L until 25L).map(i => (i, "a")).toDF("id", "p")
      ManifestTable.replacePartitions(spark, dir, fix.repartition(col("p")), "p")
      val stats = ManifestTable.currentStats(spark, dir).filter(_.column == "id")
      val files = ManifestTable.currentFiles(spark, dir)
      // every live file has an id stat; no stat points at a dead file
      val rels = stats.map(_.file).toSet
      files.size shouldBe rels.size
      stats.map(cs => (cs.min.get.toLong, cs.max.get.toLong)).sortBy(_._1) shouldBe
        Seq((0L, 24L), (50L, 99L))
    } finally rm(dir)
  }

  it should "prune files perfectly for equality predicates on a per-category layout" in {
    val dir = tmpDir()
    try {
      Seq("de", "en", "fr").foreach { l =>
        ManifestTable.append(spark, dir,
          (0L until 30L).map(i => (i, l)).toDF("id", "lang").coalesce(1))
      }
      val (kept, total) = ManifestTable.pruneByEquals(spark, dir, "lang", "en")
      total shouldBe 3
      kept.size shouldBe 1
      val got = ManifestTable.readWhereEquals(spark, dir, "lang", "en")
      got.count() shouldBe 30
      got.select("lang").distinct().collect().map(_.getString(0)) shouldBe Array("en")
      // a value outside every file's range prunes everything
      val (none, _) = ManifestTable.pruneByEquals(spark, dir, "lang", "zz")
      none shouldBe empty
      ManifestTable.readWhereEquals(spark, dir, "lang", "zz").count() shouldBe 0
    } finally rm(dir)
  }

  it should "merge updates as one transaction with version-wins semantics" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 50L).map(i => (i, s"v$i", 0L)).toDF("id", "v", "ver"))
      // update ids 0..9 at version 1, insert 100..104, and carry a STALE
      // update for id 20 at version -1 that must lose to the base row
      val updates = ((0L until 10L).map(i => (i, s"upd$i", 1L)) ++
        (100L until 105L).map(i => (i, s"new$i", 1L)) :+ (20L, "stale", -1L))
        .toDF("id", "v", "ver")
      val verBefore = ManifestTable.currentVersion(spark, dir)
      ManifestTable.mergeInto(spark, dir, updates, "id", "ver")
      ManifestTable.currentVersion(spark, dir) shouldBe verBefore + 1 // ONE commit
      val back = ManifestTable.read(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      back.size shouldBe 55
      back(5L) shouldBe "upd5"
      back(20L) shouldBe "v20"    // stale update loses
      back(102L) shouldBe "new102"
      back(30L) shouldBe "v30"
      // merging into an empty dir is a plain first commit
      val dir2 = tmpDir()
      try {
        ManifestTable.mergeInto(spark, dir2,
          (0L until 5L).map(i => (i, s"x$i", 0L)).toDF("id", "v", "ver"),
          "id", "ver")
        ManifestTable.read(spark, dir2).count() shouldBe 5
      } finally rm(dir2)
    } finally rm(dir)
  }

  it should "evolve the schema add-only and read old files as null for new columns" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 40L).map(i => (i, s"t$i")).toDF("id", "txt"))
      ManifestTable.appendEvolve(spark, dir,
        (100L until 120L).map(i => (i, s"t$i", i * 0.5)).toDF("id", "txt", "score"))
      val back = ManifestTable.readEvolved(spark, dir)
      back.count() shouldBe 60
      back.filter(col("score").isNull).count() shouldBe 40    // pre-evolution slice
      back.filter(col("score").isNotNull).count() shouldBe 20
      // the manifest schema advanced to the widened one
      ManifestTable.currentSchema(spark, dir).get.fieldNames.sorted shouldBe
        Array("id", "score", "txt")
      // dropping a column refuses
      val e1 = intercept[IllegalArgumentException] {
        ManifestTable.appendEvolve(spark, dir,
          (0L until 3L).map(i => (i, i * 1.0)).toDF("id", "score"))
      }
      e1.getMessage should include("may only ADD")
      // retyping refuses
      val e2 = intercept[IllegalArgumentException] {
        ManifestTable.appendEvolve(spark, dir,
          (0L until 3L).map(i => (i, s"s$i", s"notdouble$i")).toDF("id", "txt", "score"))
      }
      e2.getMessage should include("may only ADD")
    } finally rm(dir)
  }

  it should "land BOTH batches when two appenders interleave stage/publish" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 10L).map(i => (i, "base")).toDF("id", "tag"))
      // A and B both write data and stage manifests off v0 (carry = v0's
      // files); A publishes first
      val sdA = ManifestTable.stageData(spark, dir,
        (100L until 110L).map(i => (i, "A")).toDF("id", "tag"))
      val sdB = ManifestTable.stageData(spark, dir,
        (200L until 220L).map(i => (i, "B")).toDF("id", "tag"))
      val a = ManifestTable.stageManifest(spark, dir, sdA,
        ManifestTable.currentFiles(spark, dir).map(p =>
          p.stripPrefix(p.substring(0, p.indexOf("/data/") + 1))), Seq.empty, 0L)
      val b = ManifestTable.stageManifest(spark, dir, sdB,
        ManifestTable.currentFiles(spark, dir).map(p =>
          p.stripPrefix(p.substring(0, p.indexOf("/data/") + 1))), Seq.empty, 0L)
      a.version should not be b.version // slot CAS: never the same slot
      ManifestTable.publish(spark, dir, a)
      // B's manifest was built from v0's file list and never saw A's
      // files — the lost-update interleaving. The swap must refuse in
      // THIS direction too (B's slot number exceeds A's).
      an[java.util.ConcurrentModificationException] should be thrownBy
        ManifestTable.publish(spark, dir, b)
      ManifestTable.abandon(spark, dir, b)
      // the rebase loop re-stages B's ALREADY-WRITTEN files against the
      // new current and lands them without rewriting data
      ManifestTable.completeAppend(spark, dir, sdB)
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 40
      back.filter(col("tag") === "A").count() shouldBe 10 // A's batch survived
      back.filter(col("tag") === "B").count() shouldBe 20
      // and every staged data file is referenced exactly once
      val files = ManifestTable.currentFiles(spark, dir)
      files.distinct.size shouldBe files.size
    } finally rm(dir)
  }

  it should "merge a narrow key range rewriting only overlapping files, carrying the rest verbatim" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 1000L).map(i => (i, s"v$i", 0L)).toDF("id", "v", "ver")
          .repartition(8))
      ManifestTable.compactSorted(spark, dir, Seq("id"), targetFiles = 5)
      val before = ManifestTable.currentFiles(spark, dir)
      before.size shouldBe 5
      // keys 100..149 live in the first clustered file only — the
      // batch's [min, max] intersects exactly one file's id range
      val updates = (100L until 150L).map(i => (i, s"upd$i", 1L))
        .toDF("id", "v", "ver")
      ManifestTable.mergeInto(spark, dir, updates, "id", "ver")
      val after = ManifestTable.currentFiles(spark, dir)
      // at most one clustered file rewritten; the other four carry
      // forward as the SAME paths
      before.count(after.contains) should be >= 4
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 1000
      back.filter(col("v").startsWith("upd")).count() shouldBe 50
      // carried files keep their stats; every live file has an id stat
      val stats = ManifestTable.currentStats(spark, dir).filter(_.column == "id")
      stats.map(_.file).distinct.size shouldBe after.size
      // a merge of ONLY out-of-range keys rewrites nothing
      val b2 = ManifestTable.currentFiles(spark, dir).toSet
      ManifestTable.mergeInto(spark, dir,
        Seq((90000L, "far", 1L)).toDF("id", "v", "ver"), "id", "ver")
      val a2 = ManifestTable.currentFiles(spark, dir).toSet
      b2.subsetOf(a2) shouldBe true
      (a2 -- b2).size should be >= 1 // only the insert's new file appears
      ManifestTable.read(spark, dir).count() shouldBe 1001
    } finally rm(dir)
  }

  it should "delete a category by rewriting only files whose string stats can match" in {
    val dir = tmpDir()
    try {
      Seq("de", "en", "fr").foreach { l =>
        ManifestTable.append(spark, dir,
          ((0L until 40L).map(i => (i, l)) :+ (999L, null.asInstanceOf[String]))
            .toDF("id", "lang").coalesce(1))
      }
      val before = ManifestTable.currentFiles(spark, dir)
      ManifestTable.deleteWhereEquals(spark, dir, "lang", "en")
      val after = ManifestTable.currentFiles(spark, dir)
      // de and fr zone files carry forward untouched
      before.count(after.contains) shouldBe 2
      val back = ManifestTable.read(spark, dir)
      back.filter(col("lang") === "en").count() shouldBe 0
      back.filter(col("lang") === "de").count() shouldBe 40
      // null rows survive a categorical erasure (equality never matches)
      back.filter(col("lang").isNull).count() shouldBe 3
      back.count() shouldBe 83
      // deleting an absent category is a metadata no-op
      val v = ManifestTable.currentVersion(spark, dir)
      ManifestTable.deleteWhereEquals(spark, dir, "lang", "zz")
      ManifestTable.currentVersion(spark, dir) shouldBe v
    } finally rm(dir)
  }

  it should "retain a freshly staged commit through vacuum so its publish still succeeds" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 30L).map(i => (i, "base")).toDF("id", "tag"))
      ManifestTable.commit(spark, dir,
        (0L until 20L).map(i => (i, "cur")).toDF("id", "tag"))
      val staged = ManifestTable.stage(spark, dir,
        (0L until 7L).map(i => (i, "staged")).toDF("id", "tag"))
      // default vacuum sweeps the SUPERSEDED manifest but must not touch
      // the in-flight staged commit or its data files
      ManifestTable.vacuum(spark, dir)
      ManifestTable.versions(spark, dir) should contain(staged.version)
      ManifestTable.publish(spark, dir, staged)
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 7
      back.select("tag").distinct().collect().map(_.getString(0)) shouldBe
        Array("staged")
    } finally rm(dir)
  }

  it should "refuse replacePartitions over a layout holding plain-committed files" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 30L).map(i => (i, s"p${i % 3}", s"v$i")).toDF("id", "part", "v"))
      val e = intercept[IllegalArgumentException] {
        ManifestTable.replacePartitions(spark, dir,
          (100L until 110L).map(i => (i, "p0", "patched")).toDF("id", "part", "v"),
          "part")
      }
      e.getMessage should include("mixed layout")
      // the refused call left no pointer movement
      ManifestTable.read(spark, dir).count() shouldBe 30
    } finally rm(dir)
  }

  it should "record no stats for a column whose chunk dropped them, and never prune on it" in {
    val dir = tmpDir()
    try {
      // parquet-mr omits BINARY min/max when a value exceeds the 4 KB
      // stats cap — the chunk then has rows but no bounds. Recording the
      // other rows' bounds would let an equality prune skip this file.
      val big = "z" * 8192
      ManifestTable.commit(spark, dir,
        ((0L until 20L).map(i => (i, s"s$i")) :+ (99L, big))
          .toDF("id", "s").coalesce(1))
      val sStats = ManifestTable.currentStats(spark, dir).filter(_.column == "s")
      if (sStats.nonEmpty) {
        // writer kept (possibly truncated) bounds: they must still cover
        // the big value's file — the file may not be pruned for it
        val (kept, _) = ManifestTable.pruneByEquals(spark, dir, "s", big)
        kept.size shouldBe 1
      } else {
        // stats dropped: the column is poisoned for the file and every
        // prune on it conservatively keeps the file
        val (kept, total) = ManifestTable.pruneByEquals(spark, dir, "s", "zzz")
        kept.size shouldBe total
      }
      // the sibling int column keeps exact stats either way
      val idStats = ManifestTable.currentStats(spark, dir).filter(_.column == "id")
      idStats.size shouldBe 1
      idStats.head.min.get.toLong shouldBe 0L
      idStats.head.max.get.toLong shouldBe 99L
      ManifestTable.readWhereEquals(spark, dir, "s", big).count() shouldBe 1
    } finally rm(dir)
  }

  it should "delete a range by rewriting only the files whose stats can match" in {
    val dir = tmpDir()
    try {
      // three disjoint zones; the middle holds 100..199 plus a null row
      ManifestTable.append(spark, dir,
        (0L until 100L).map(i => (i, Option(i))).toDF("id", "x").coalesce(1))
      ManifestTable.append(spark, dir,
        ((100L until 200L).map(i => (i, Option(i))) :+ (9999L, Option.empty[Long]))
          .toDF("id", "x").coalesce(1))
      ManifestTable.append(spark, dir,
        (200L until 300L).map(i => (i, Option(i))).toDF("id", "x").coalesce(1))
      val before = ManifestTable.currentFiles(spark, dir)
      ManifestTable.deleteWhere(spark, dir, "x", 120.0, 180.0)
      val after = ManifestTable.currentFiles(spark, dir)
      // the two untouched zone files carry forward as the SAME paths
      before.count(after.contains) shouldBe 2
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe (300 - 61 + 1) // 61 deleted, null row survives
      back.filter(col("x").between(120, 180)).count() shouldBe 0
      back.filter(col("x").isNull).count() shouldBe 1
      // untouched files keep their stats; the rewritten file got fresh
      // ones -- every live file carries an x stat
      val stats = ManifestTable.currentStats(spark, dir).filter(_.column == "x")
      stats.map(_.file).distinct.size shouldBe after.size
      // a delete that can touch nothing is a metadata no-op
      val v = ManifestTable.currentVersion(spark, dir)
      ManifestTable.deleteWhere(spark, dir, "x", 50000.0, 60000.0)
      ManifestTable.currentVersion(spark, dir) shouldBe v
    } finally rm(dir)
  }

  it should "delete rows by deletion vector without touching any data file" in {
    val dir = tmpDir()
    try {
      // three band-clustered appends, one file each
      Seq(0L, 100L, 200L).foreach { lo =>
        ManifestTable.append(spark, dir,
          (lo until lo + 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
      }
      val filesBefore = ManifestTable.currentFiles(spark, dir).sorted
      val v = ManifestTable.currentVersion(spark, dir)
      ManifestTable.deleteVectorWhere(spark, dir, "id", 120.0, 180.0)
      ManifestTable.currentVersion(spark, dir) shouldBe (v + 1)
      // merge-on-read: the data-file list is IDENTICAL — no rewrite
      ManifestTable.currentFiles(spark, dir).sorted shouldBe filesBefore
      ManifestTable.currentDeleteVectors(spark, dir).size shouldBe 1
      ManifestTable.deleteVectorRowCount(spark, dir) shouldBe 61L
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 239
      back.filter(col("id").between(120, 180)).count() shouldBe 0
      // stats carried verbatim — still one id stat per (unchanged) file
      ManifestTable.currentStats(spark, dir).filter(_.column == "id")
        .map(_.file).distinct.size shouldBe filesBefore.size
      // a vector delete that stats-prunes everything is a metadata no-op
      val v2 = ManifestTable.currentVersion(spark, dir)
      ManifestTable.deleteVectorWhere(spark, dir, "id", 50000.0, 60000.0)
      ManifestTable.currentVersion(spark, dir) shouldBe v2
      // ... and so is one whose rows are ALL already deleted
      ManifestTable.deleteVectorWhere(spark, dir, "id", 130.0, 170.0)
      ManifestTable.currentVersion(spark, dir) shouldBe v2
    } finally rm(dir)
  }

  it should "accumulate minimal disjoint vectors and subtract them on every read path" in {
    val dir = tmpDir()
    try {
      Seq("en", "fr", "de").foreach { l =>
        ManifestTable.append(spark, dir,
          (0L until 50L).map(i => (i, l)).toDF("id", "lang").coalesce(1))
      }
      val v0 = ManifestTable.currentVersion(spark, dir)
      ManifestTable.deleteVectorWhereEquals(spark, dir, "lang", "fr")
      ManifestTable.deleteVectorWhere(spark, dir, "id", 40.0, 49.0)
      // second vector lists only rows the first did not already delete
      ManifestTable.currentDeleteVectors(spark, dir).size shouldBe 2
      ManifestTable.deleteVectorRowCount(spark, dir) shouldBe (50L + 20L)
      ManifestTable.read(spark, dir).count() shouldBe 80
      // pruned reads subtract vectors too
      ManifestTable.readWhereEquals(spark, dir, "lang", "fr").count() shouldBe 0
      ManifestTable.readBetween(spark, dir, "id", 40.0, 49.0).count() shouldBe 0
      ManifestTable.readBetween(spark, dir, "id", 0.0, 39.0).count() shouldBe 80
      // time travel reads the PRE-delete snapshot with its (absent) vectors
      ManifestTable.readVersion(spark, dir, v0).count() shouldBe 150
    } finally rm(dir)
  }

  it should "carry deletion vectors across appends and merges" in {
    val dir = tmpDir()
    try {
      ManifestTable.append(spark, dir,
        (0L until 100L).map(i => (i, i, 0L)).toDF("id", "x", "version").coalesce(1))
      ManifestTable.deleteVectorWhere(spark, dir, "id", 0.0, 9.0)
      // append: vectors carry — deleted rows stay deleted, new rows land
      ManifestTable.append(spark, dir,
        (100L until 150L).map(i => (i, i, 0L)).toDF("id", "x", "version").coalesce(1))
      val afterAppend = ManifestTable.read(spark, dir)
      afterAppend.count() shouldBe 140
      afterAppend.filter(col("id") < 10).count() shouldBe 0
      // merge on a DV'd table: candidate re-read applies vectors, so a
      // deleted key re-inserts as the UPDATE row alone (no resurrection)
      ManifestTable.mergeInto(spark, dir,
        Seq((5L, -1L, 1L), (120L, -2L, 1L)).toDF("id", "x", "version"),
        "id", "version")
      val merged = ManifestTable.read(spark, dir)
      merged.count() shouldBe 141 // 140 + key 5 re-inserted; 120 updated in place
      merged.filter(col("id") === 5L).select("x").as[Long].collect() shouldBe Array(-1L)
      merged.filter(col("id") === 120L).select("x").as[Long].collect() shouldBe Array(-2L)
      merged.filter(col("id") === 3L).count() shouldBe 0
    } finally rm(dir)
  }

  it should "apply vectors inside copy-on-write deletes so rows never resurrect" in {
    val dir = tmpDir()
    try {
      ManifestTable.append(spark, dir,
        (0L until 100L).map(i => (i, i % 7)).toDF("id", "x").coalesce(1))
      ManifestTable.deleteVectorWhere(spark, dir, "id", 0.0, 19.0)
      // copy-on-write delete over an overlapping slice rewrites the file
      // FROM the vector-applied view
      ManifestTable.deleteWhere(spark, dir, "id", 10.0, 29.0)
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 70
      back.filter(col("id") < 30).count() shouldBe 0
    } finally rm(dir)
  }

  it should "materialize vectors on compaction and sweep their sidecars on vacuum" in {
    val dir = tmpDir()
    try {
      Seq(0L, 100L).foreach { lo =>
        ManifestTable.append(spark, dir,
          (lo until lo + 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
      }
      ManifestTable.deleteVectorWhere(spark, dir, "id", 50.0, 149.0)
      val dvRel = ManifestTable.currentDeleteVectors(spark, dir).head
      val dvPath = new java.io.File(dir, dvRel)
      dvPath.exists() shouldBe true
      // vacuum with history retention keeps the referenced sidecar
      ManifestTable.vacuum(spark, dir, retainStagedMillis = 0L)
      dvPath.exists() shouldBe true
      ManifestTable.read(spark, dir).count() shouldBe 100
      // compaction reads vectors applied and commits WITHOUT them
      ManifestTable.compactSorted(spark, dir, Seq("id"), 2)
      ManifestTable.currentDeleteVectors(spark, dir) shouldBe empty
      ManifestTable.read(spark, dir).count() shouldBe 100
      ManifestTable.read(spark, dir)
        .filter(col("id").between(50, 149)).count() shouldBe 0
      // now nothing references the sidecar: vacuum sweeps it
      ManifestTable.vacuum(spark, dir, retainStagedMillis = 0L)
      dvPath.exists() shouldBe false
      ManifestTable.read(spark, dir).count() shouldBe 100
    } finally rm(dir)
  }

  it should "pin tagged snapshots through vacuum and read them by name" in {
    val dir = tmpDir()
    try {
      ManifestTable.append(spark, dir,
        (0L until 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
      ManifestTable.append(spark, dir,
        (100L until 200L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
      ManifestTable.tag(spark, dir, "audit", 1L)
      ManifestTable.tags(spark, dir) shouldBe Map("audit" -> 1L)
      // history moves on: full overwrite, then vacuum with zero retention
      ManifestTable.commit(spark, dir,
        (0L until 10L).map(i => (i, s"c$i")).toDF("id", "v"))
      ManifestTable.vacuum(spark, dir, retainStagedMillis = 0L)
      // v0 is swept, the tagged v1 survives with its files
      intercept[IllegalArgumentException] {
        ManifestTable.readVersion(spark, dir, 0L)
      }
      ManifestTable.readTag(spark, dir, "audit").count() shouldBe 200
      ManifestTable.read(spark, dir).count() shouldBe 10
      // re-tag moves the name; dropTag unpins
      ManifestTable.tag(spark, dir, "audit", 2L)
      ManifestTable.readTag(spark, dir, "audit").count() shouldBe 10
      ManifestTable.dropTag(spark, dir, "audit")
      ManifestTable.tags(spark, dir) shouldBe empty
      intercept[IllegalArgumentException] {
        ManifestTable.readTag(spark, dir, "audit")
      }
      // tagging a missing version refuses loudly
      intercept[IllegalArgumentException] {
        ManifestTable.tag(spark, dir, "nope", 99L)
      }
      intercept[IllegalArgumentException] {
        ManifestTable.tag(spark, dir, "bad/name", 2L)
      }
    } finally rm(dir)
  }

  it should "skip files by manifest blooms for point lookups, never losing rows" in {
    val dir = tmpDir()
    try {
      // 4 files keyed by id range; ids are high-cardinality, so min/max
      // stats WOULD prune here — the bloom must work without relying on
      // the clustered layout, so probe ids live in exactly one file each
      Seq(0L, 1000L, 2000L, 3000L).foreach { lo =>
        ManifestTable.append(spark, dir,
          (lo until lo + 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
      }
      ManifestTable.addBloom(spark, dir, "id", words = 64, k = 4)
      val (kept, total) = ManifestTable.pruneByBloom(spark, dir, "id", "2042")
      total shouldBe 4
      kept.size should be < 4 // 4096 bits vs 100 ids: skips are certain
      ManifestTable.readWhereEqualsBloom(spark, dir, "id", "2042")
        .count() shouldBe 1
      // absent id: bloom may keep false-positive files, never finds rows
      ManifestTable.readWhereEqualsBloom(spark, dir, "id", "999999")
        .count() shouldBe 0
      // appends lack blooms until the next addBloom — conservative keep
      ManifestTable.append(spark, dir,
        (5000L until 5050L).map(i => (i, s"n$i")).toDF("id", "v").coalesce(1))
      val (kept2, total2) = ManifestTable.pruneByBloom(spark, dir, "id", "2042")
      total2 shouldBe 5
      kept2.size shouldBe (kept.size + 1) // old skips hold, new file kept
      // incremental addBloom covers ONLY the new file, then it prunes too
      ManifestTable.addBloom(spark, dir, "id", words = 64, k = 4)
      val (kept3, _) = ManifestTable.pruneByBloom(spark, dir, "id", "2042")
      kept3.size shouldBe kept.size
      ManifestTable.readWhereEqualsBloom(spark, dir, "id", "5001")
        .count() shouldBe 1
      // blooms survive a copy-on-write delete of OTHER files, and the
      // rewritten file's stale bloom drops with it
      ManifestTable.deleteWhere(spark, dir, "id", 0.0, 50.0)
      val (kept4, _) = ManifestTable.pruneByBloom(spark, dir, "id", "2042")
      kept4.size should be <= kept3.size + 1 // rewritten file unbloomeed -> kept
      ManifestTable.readWhereEqualsBloom(spark, dir, "id", "2042")
        .count() shouldBe 1
      // and they compose with deletion vectors: erase the probed row
      ManifestTable.deleteVectorWhere(spark, dir, "id", 2042.0, 2042.0)
      ManifestTable.readWhereEqualsBloom(spark, dir, "id", "2042")
        .count() shouldBe 0
    } finally rm(dir)
  }

  it should "estimate table-level distinct counts from merged per-file KMV sketches" in {
    val dir = tmpDir()
    try {
      // 3 files with overlapping id ranges; ids 0..599 distinct overall
      Seq(0L, 200L, 400L).foreach { lo =>
        ManifestTable.append(spark, dir,
          (lo until lo + 200L).map(i => (i, s"g${i % 5}")).toDF("id", "grp").coalesce(1))
      }
      ManifestTable.addNdvSketch(spark, dir, "id", k = 32)
      ManifestTable.addNdvSketch(spark, dir, "grp", k = 32)
      val (estId, sk, tot) = ManifestTable.estimateDistinct(spark, dir, "id")
      sk shouldBe tot
      // merged per-file sketches must equal sketching the union directly:
      // same ids in ONE file -> identical estimate (the KMV merge law)
      val one = tmpDir()
      try {
        ManifestTable.commit(spark, one,
          (0L until 600L).map(i => (i, "x")).toDF("id", "grp").coalesce(1))
        ManifestTable.addNdvSketch(spark, one, "id", k = 32)
        ManifestTable.estimateDistinct(spark, one, "id")._1 shouldBe estId
      } finally rm(one)
      // the estimate is in the right order of magnitude (KMV variance at
      // k=32 is wide; this particular md5 draw lands ~1.8x high)
      estId should (be > 200.0 and be < 2000.0)
      // below-k column reads back EXACT
      val (estGrp, _, _) = ManifestTable.estimateDistinct(spark, dir, "grp")
      estGrp shouldBe 5.0
      // appended files are uncovered until the next sketch pass
      ManifestTable.append(spark, dir,
        (600L until 700L).map(i => (i, "g9")).toDF("id", "grp").coalesce(1))
      val (_, sk2, tot2) = ManifestTable.estimateDistinct(spark, dir, "grp")
      sk2 shouldBe (tot2 - 1)
      ManifestTable.addNdvSketch(spark, dir, "grp", k = 32)
      val (estGrp2, sk3, tot3) = ManifestTable.estimateDistinct(spark, dir, "grp")
      sk3 shouldBe tot3
      estGrp2 shouldBe 6.0
      // sketches ride through header-only commits (deletion vectors)
      ManifestTable.deleteVectorWhere(spark, dir, "id", 0.0, 9.0)
      val (estGrp3, sk4, tot4) = ManifestTable.estimateDistinct(spark, dir, "grp")
      sk4 shouldBe tot4
      estGrp3 shouldBe 6.0
    } finally rm(dir)
  }

  it should "maintain an additive rollup from the change feed in O(delta)" in {
    val src = tmpDir(); val agg = tmpDir()
    try {
      ManifestTable.append(spark, src,
        (0L until 100L).map(i => (i, s"k${i % 3}", i)).toDF("id", "k", "v").coalesce(1))
      var wm = ManifestTable.maintainRollup(spark, src, agg, -1L, "k", "v")
      wm shouldBe 0L
      ManifestTable.append(spark, src,
        (100L until 150L).map(i => (i, s"k${i % 3}", i)).toDF("id", "k", "v").coalesce(1))
      wm = ManifestTable.maintainRollup(spark, src, agg, wm, "k", "v")
      wm shouldBe 1L
      // the summary equals the direct aggregate of the whole source
      val got = ManifestTable.read(spark, agg)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      val want = ManifestTable.read(spark, src)
        .groupBy(col("k")).agg(count(lit(1)), sum(col("v")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      got shouldBe want
      // nothing new: no refresh commit at all
      val v = ManifestTable.currentVersion(spark, agg)
      ManifestTable.maintainRollup(spark, src, agg, wm, "k", "v") shouldBe wm
      ManifestTable.currentVersion(spark, agg) shouldBe v
      // a vector delete in a NEW batch's window is honored by the feed
      ManifestTable.append(spark, src,
        (150L until 160L).map(i => (i, "k9", i)).toDF("id", "k", "v").coalesce(1))
      ManifestTable.deleteVectorWhere(spark, src, "id", 155.0, 159.0)
      wm = ManifestTable.maintainRollup(spark, src, agg, wm, "k", "v")
      ManifestTable.read(spark, agg).filter(col("k") === "k9")
        .collect().map(r => r.getLong(1)) shouldBe Array(5L)
    } finally { rm(src); rm(agg) }
  }

  it should "bin-pack only small files in a bounded OPTIMIZE transaction" in {
    val dir = tmpDir()
    try {
      // one big clustered file, six dribble appends
      ManifestTable.commit(spark, dir,
        (0L until 5000L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
      val big = ManifestTable.currentFiles(spark, dir).toSet
      val bigLen = big.map(pth =>
        new java.io.File(new java.net.URI(pth).getPath).length()).min
      (0 until 6).foreach { k =>
        ManifestTable.append(spark, dir,
          (5000L + k * 10L until 5010L + k * 10L).map(i => (i, s"n$i"))
            .toDF("id", "v").coalesce(1))
      }
      // the plan reads sizes from #size= headers and bins only the dribble
      val bins = ManifestTable.planCompaction(spark, dir, bigLen)
      bins.flatten.toSet.intersect(
        big.map(_.split("/data/").last).map("data/" + _)) shouldBe empty
      bins.flatten.size shouldBe 6
      val removed = ManifestTable.compactSmallFiles(spark, dir, bigLen)
      removed shouldBe (6 - bins.size)
      val after = ManifestTable.currentFiles(spark, dir)
      big.subsetOf(after.toSet) shouldBe true
      after.size shouldBe (1 + bins.size)
      ManifestTable.read(spark, dir).count() shouldBe 5060
      // idempotent: a second pass finds nothing to do (no new version)
      val v = ManifestTable.currentVersion(spark, dir)
      ManifestTable.compactSmallFiles(spark, dir, bigLen) shouldBe 0
      ManifestTable.currentVersion(spark, dir) shouldBe v
      // deletion vectors are honored by the rewrite: erase a dribble row,
      // optimize again after more dribble, the row stays gone
      ManifestTable.deleteVectorWhere(spark, dir, "id", 5000.0, 5004.0)
      ManifestTable.append(spark, dir,
        (9000L until 9010L).map(i => (i, s"x$i")).toDF("id", "v").coalesce(1))
      ManifestTable.compactSmallFiles(spark, dir, bigLen)
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 5065
      back.filter(col("id").between(5000, 5004)).count() shouldBe 0
    } finally rm(dir)
  }

  it should "restore a prior snapshot by reference as a new version" in {
    val dir = tmpDir()
    try {
      ManifestTable.append(spark, dir,
        (0L until 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
      ManifestTable.append(spark, dir,
        (100L until 200L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
      val goodFiles = ManifestTable.currentFiles(spark, dir).sorted
      // incident: overwrite with junk
      ManifestTable.commit(spark, dir,
        Seq((999L, "junk")).toDF("id", "v"))
      ManifestTable.restore(spark, dir, 1L)
      ManifestTable.currentVersion(spark, dir) shouldBe 3L
      // content AND file identity restored by reference — no data write
      ManifestTable.currentFiles(spark, dir).sorted shouldBe goodFiles
      ManifestTable.read(spark, dir).count() shouldBe 200
      // the bad version stays time-travelable
      ManifestTable.readVersion(spark, dir, 2L).count() shouldBe 1
      // restoring the current version is a no-op
      ManifestTable.restore(spark, dir, 3L)
      ManifestTable.currentVersion(spark, dir) shouldBe 3L
      // restore carries deletion vectors: erase, restore v1, rows return;
      // restore the DV'd version, rows stay gone
      ManifestTable.deleteVectorWhere(spark, dir, "id", 0.0, 49.0)
      val dvv = ManifestTable.currentVersion(spark, dir)
      ManifestTable.read(spark, dir).count() shouldBe 150
      ManifestTable.restore(spark, dir, 1L)
      ManifestTable.read(spark, dir).count() shouldBe 200
      ManifestTable.restore(spark, dir, dvv)
      ManifestTable.read(spark, dir).count() shouldBe 150
    } finally rm(dir)
  }

  it should "enforce registered CHECK constraints on every write transaction" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 50L).map(i => (i, "ok", i.toDouble)).toDF("id", "s", "x"))
      // a CHECK that existing rows violate refuses at creation
      intercept[IllegalArgumentException] {
        ManifestTable.addCheck(spark, dir,
          graft.ops.Quality.InRange("x", 100.0, 200.0))
      }
      ManifestTable.addCheck(spark, dir, graft.ops.Quality.NotNull("s"))
      ManifestTable.addCheck(spark, dir,
        graft.ops.Quality.InRange("x", 0.0, 1000.0))
      ManifestTable.checks(spark, dir).size shouldBe 2
      // registering the same check twice is a no-op
      val v = ManifestTable.currentVersion(spark, dir)
      ManifestTable.addCheck(spark, dir, graft.ops.Quality.NotNull("s"))
      ManifestTable.currentVersion(spark, dir) shouldBe v
      // clean writes land; dirty ones refuse and leave the table intact
      ManifestTable.append(spark, dir,
        (50L until 60L).map(i => (i, "ok", i.toDouble)).toDF("id", "s", "x"))
      val before = ManifestTable.read(spark, dir).count()
      val e = intercept[IllegalArgumentException] {
        ManifestTable.append(spark, dir,
          Seq((99L, null: String, 5.0)).toDF("id", "s", "x"))
      }
      e.getMessage should include("not_null(s)")
      intercept[IllegalArgumentException] {
        ManifestTable.mergeInto(spark, dir,
          Seq((1L, "ok", 5000.0)).toDF("id", "s", "x"), "id", "x")
      }
      ManifestTable.read(spark, dir).count() shouldBe before
      // checks carry through compaction (no re-validation scan needed)
      ManifestTable.compact(spark, dir, 1)
      ManifestTable.checks(spark, dir).size shouldBe 2
      // ... and still bite afterwards
      intercept[IllegalArgumentException] {
        ManifestTable.append(spark, dir,
          Seq((100L, "ok", -5.0)).toDF("id", "s", "x"))
      }
      // dropCheck lifts the rule
      ManifestTable.dropCheck(spark, dir,
        graft.ops.Quality.InRange("x", 0.0, 1000.0))
      ManifestTable.append(spark, dir,
        Seq((100L, "ok", -5.0)).toDF("id", "s", "x"))
      ManifestTable.read(spark, dir).count() shouldBe (before + 1)
    } finally rm(dir)
  }

  it should "plan deletion-vector reads as a broadcast anti-join over the scan" in {
    val dir = tmpDir()
    try {
      ManifestTable.append(spark, dir,
        (0L until 500L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(2))
      ManifestTable.deleteVectorWhere(spark, dir, "id", 10.0, 19.0)
      val plan = ManifestTable.read(spark, dir)
        .queryExecution.executedPlan.toString
      withClue(plan) {
        // the vectors ride a broadcast; the corpus scan never shuffles
        plan should include("BroadcastHashJoin")
        plan should include("LeftAnti")
        plan should not include "SortMergeJoin"
        plan should not include "Exchange hashpartitioning"
      }
      // a vector-free table reads as a bare scan — zero join machinery
      val clean = tmpDir()
      try {
        ManifestTable.commit(spark, clean,
          (0L until 10L).map(i => (i, i)).toDF("id", "x"))
        val p2 = ManifestTable.read(spark, clean)
          .queryExecution.executedPlan.toString
        p2 should not include "Join"
      } finally rm(clean)
    } finally rm(dir)
  }

  private def fileLen(p: String): Long =
    new java.io.File(new java.net.URI(p).getPath).length()

  it should "honor compaction bins: no rewritten output exceeds targetBytes on skewed sizes" in {
    val dir = tmpDir()
    try {
      // skewed dribble: two medium files and four tiny ones — the shape
      // where merging partitions by locality (round 8's coalesce) could
      // collapse both mediums into one oversized output
      val counts = Seq(3000, 3000, 150, 150, 150, 150)
      counts.zipWithIndex.foreach { case (n, k) =>
        ManifestTable.append(spark, dir,
          (k * 10000L until k * 10000L + n).map(i => (i, s"v$i"))
            .toDF("id", "v").coalesce(1))
      }
      val sizes = ManifestTable.currentFiles(spark, dir).map(fileLen)
      // two mediums fit one bin with ~10% slack; every file counts small
      val target = (sizes.max * 2.2).toLong
      sizes.foreach(_ should be < target / 2)
      val bins = ManifestTable.planCompaction(spark, dir, target)
      bins.foreach(_.size should be >= 2)
      ManifestTable.compactSmallFiles(spark, dir, target) shouldBe
        (counts.size - bins.size)
      val after = ManifestTable.currentFiles(spark, dir)
      // the planned bin IS the output unit: one file per bin, each
      // within the target the plan promised
      after.size shouldBe bins.size
      after.foreach(p => fileLen(p) should be <= target)
      ManifestTable.read(spark, dir).count() shouldBe counts.sum.toLong
    } finally rm(dir)
  }

  it should "refuse an incremental read across a rewrite commit" in {
    val dir = tmpDir()
    try {
      (0 until 3).foreach { k =>
        ManifestTable.append(spark, dir,
          (k * 100L until k * 100L + 100L).map(i => (i, s"v$i"))
            .toDF("id", "v").coalesce(1))
      }
      ManifestTable.readChangesSince(spark, dir, 0L).count() shouldBe 200
      // a compaction rewrites version-0 files: "added files" no longer
      // means "added rows" and the file-diff read must refuse loudly
      val target = ManifestTable.currentFiles(spark, dir).map(fileLen).max * 4
      ManifestTable.compactSmallFiles(spark, dir, target) should be > 0
      val e = intercept[IllegalArgumentException] {
        ManifestTable.readChangesSince(spark, dir, 0L)
      }
      e.getMessage should include("append-shaped")
      // a fresh watermark taken AFTER the rewrite works again
      val v = ManifestTable.currentVersion(spark, dir)
      ManifestTable.append(spark, dir,
        (900L until 910L).map(i => (i, s"n$i")).toDF("id", "v"))
      ManifestTable.readChangesSince(spark, dir, v).count() shouldBe 10
    } finally rm(dir)
  }

  it should "re-bootstrap the rollup after a source rewrite instead of double-counting" in {
    val src = tmpDir(); val agg = tmpDir()
    try {
      (0 until 3).foreach { k =>
        ManifestTable.append(spark, src,
          (k * 100L until k * 100L + 100L).map(i => (i, s"k${i % 3}", i))
            .toDF("id", "k", "v").coalesce(1))
      }
      var wm = ManifestTable.maintainRollup(spark, src, agg, -1L, "k", "v")
      // an OPTIMIZE between refreshes rewrites already-counted rows into
      // "new" files — the refresh must detect it and recompute, never
      // fold the rewritten files in again
      val target = ManifestTable.currentFiles(spark, src).map(fileLen).max * 4
      ManifestTable.compactSmallFiles(spark, src, target) should be > 0
      ManifestTable.append(spark, src,
        (900L until 950L).map(i => (i, s"k${i % 3}", i))
          .toDF("id", "k", "v").coalesce(1))
      wm = ManifestTable.maintainRollup(spark, src, agg, wm, "k", "v")
      val got = ManifestTable.read(spark, agg)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      val want = ManifestTable.read(spark, src)
        .groupBy(col("k")).agg(count(lit(1)), sum(col("v")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      got shouldBe want
    } finally { rm(src); rm(agg) }
  }

  it should "auto-retry a merge refused by a concurrent append, landing both" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 100L).map(i => (i, s"v$i", 0L)).toDF("id", "v", "ver")
          .repartition(2))
      // inject: an append PUBLISHES inside the merge's stage→publish
      // window — exactly the interleaving that threw
      // ConcurrentModificationException at the caller in round 8
      var fired = false
      ManifestTable.onBeforePublish = () => if (!fired) {
        fired = true
        ManifestTable.append(spark, dir,
          (200L until 210L).map(i => (i, s"a$i", 0L)).toDF("id", "v", "ver"))
      }
      try {
        ManifestTable.mergeInto(spark, dir,
          (90L until 105L).map(i => (i, s"u$i", 1L)).toDF("id", "v", "ver"),
          "id", "ver")
      } finally ManifestTable.onBeforePublish = () => ()
      fired shouldBe true
      // both transactions landed; the content equals sequential execution
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 115 // 100 base (90-99 updated) + 5 inserts + 10 appended
      back.filter(col("v").startsWith("u")).count() shouldBe 15
      back.filter(col("v").startsWith("a")).count() shouldBe 10
    } finally rm(dir)
  }

  it should "auto-retry a refused compaction by replanning against the new snapshot" in {
    val dir = tmpDir()
    try {
      (0 until 4).foreach { k =>
        ManifestTable.append(spark, dir,
          (k * 100L until k * 100L + 100L).map(i => (i, s"v$i"))
            .toDF("id", "v").coalesce(1))
      }
      val target = ManifestTable.currentFiles(spark, dir).map(fileLen).max * 8
      var fired = false
      ManifestTable.onBeforePublish = () => if (!fired) {
        fired = true
        ManifestTable.append(spark, dir,
          (900L until 910L).map(i => (i, s"x$i")).toDF("id", "v").coalesce(1))
      }
      try ManifestTable.compactSmallFiles(spark, dir, target) should be > 0
      finally ManifestTable.onBeforePublish = () => ()
      fired shouldBe true
      val back = ManifestTable.read(spark, dir)
      back.count() shouldBe 410
      back.filter(col("v").startsWith("x")).count() shouldBe 10
    } finally rm(dir)
  }

  it should "release the slot of a refused non-retrying commit, leaving no false history" in {
    val dir = tmpDir()
    try {
      ManifestTable.replacePartitions(spark, dir,
        (0L until 20L).map(i => (i, s"p${i % 2}")).toDF("id", "p"), "p")
      // every version CURRENT has held, in order
      val held = scala.collection.mutable.ArrayBuffer(
        ManifestTable.currentVersion(spark, dir))
      // inject: an append PUBLISHES inside the stage→publish window of
      // `op`, which does not retry
      def refusedWith(op: => Any): Unit = {
        var fired = false
        ManifestTable.onBeforePublish = () => if (!fired) {
          fired = true
          ManifestTable.append(spark, dir,
            Seq((100L + held.size, s"q${held.size}")).toDF("id", "p"))
          held += ManifestTable.currentVersion(spark, dir)
        }
        try an[java.util.ConcurrentModificationException] should be thrownBy op
        finally ManifestTable.onBeforePublish = () => ()
        fired shouldBe true
      }
      refusedWith(ManifestTable.replacePartitions(spark, dir,
        Seq((50L, "p0")).toDF("id", "p"), "p"))
      refusedWith(ManifestTable.addCheck(spark, dir,
        graft.ops.Quality.NotNull("id")))
      // the refused manifests are gone: history is exactly what CURRENT
      // held, so time travel and commit times see no phantom snapshot
      ManifestTable.versions(spark, dir) shouldBe held.toSeq
      ManifestTable.commitTimes(spark, dir).map(_._1) shouldBe held.toSeq
      ManifestTable.checks(spark, dir) shouldBe empty
      ManifestTable.read(spark, dir).count() shouldBe 22
    } finally rm(dir)
  }

  behavior of "ManifestTable branches (write-audit-publish)"

  it should "run the branch lifecycle: create, append, audit-read, fast-forward, drop" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 100L).map(i => (i, s"base$i")).toDF("id", "v"))
      ManifestTable.createBranch(spark, dir, "audit")
      intercept[IllegalArgumentException] {
        ManifestTable.createBranch(spark, dir, "audit")
      }
      ManifestTable.appendToBranch(spark, dir, "audit",
        (100L until 150L).map(i => (i, s"new$i")).toDF("id", "v"))
      // main's readers never see the branch batch…
      ManifestTable.currentVersion(spark, dir) shouldBe 0L
      ManifestTable.read(spark, dir).count() shouldBe 100
      // …the audit read does
      ManifestTable.readBranch(spark, dir, "audit").count() shouldBe 150
      ManifestTable.branches(spark, dir) shouldBe Map("audit" -> (1L, 0L))
      // publish: one atomic CURRENT swap to the branch head
      ManifestTable.fastForward(spark, dir, "audit")
      ManifestTable.read(spark, dir).count() shouldBe 150
      ManifestTable.dropBranch(spark, dir, "audit")
      ManifestTable.branches(spark, dir) shouldBe empty
    } finally rm(dir)
  }

  it should "refuse fast-forward once main moved past the branch base" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 50L).map(i => (i, s"a$i")).toDF("id", "v"))
      ManifestTable.createBranch(spark, dir, "stale")
      ManifestTable.appendToBranch(spark, dir, "stale",
        (100L until 120L).map(i => (i, s"b$i")).toDF("id", "v"))
      // main commits independently: the branch is now built on stale state
      ManifestTable.append(spark, dir,
        (200L until 230L).map(i => (i, s"c$i")).toDF("id", "v"))
      intercept[java.util.ConcurrentModificationException] {
        ManifestTable.fastForward(spark, dir, "stale")
      }
      // nothing moved: main keeps its own content, the branch its own
      ManifestTable.read(spark, dir).count() shouldBe 80
      ManifestTable.readBranch(spark, dir, "stale").count() shouldBe 70
    } finally rm(dir)
  }

  it should "pin a live branch's snapshots against vacuum until dropped" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 100L).map(i => (i, s"a$i")).toDF("id", "v"))
      ManifestTable.createBranch(spark, dir, "wap")
      ManifestTable.appendToBranch(spark, dir, "wap",
        (100L until 120L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
      // main commits PAST the branch's version slot: the head is no
      // longer "in-flight" by version, so only the branch pin saves it
      ManifestTable.append(spark, dir,
        (200L until 230L).map(i => (i, s"c$i")).toDF("id", "v").coalesce(1))
      ManifestTable.vacuum(spark, dir, retainStagedMillis = 0L)
      ManifestTable.readBranch(spark, dir, "wap").count() shouldBe 120
      // dropping the branch releases the pin; the next vacuum sweeps its
      // snapshot without touching main's
      ManifestTable.dropBranch(spark, dir, "wap")
      ManifestTable.vacuum(spark, dir, retainStagedMillis = 0L) should be > 0
      ManifestTable.read(spark, dir).count() shouldBe 130
    } finally rm(dir)
  }

  it should "fast-forward a branch that survived a zero-retention vacuum" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 100L).map(i => (i, s"a$i")).toDF("id", "v"))
      ManifestTable.createBranch(spark, dir, "wap")
      ManifestTable.appendToBranch(spark, dir, "wap",
        (100L until 120L).map(i => (i, s"b$i")).toDF("id", "v"))
      // the round-8 hazard: with main still at the base, a zero-retention
      // vacuum treated the branch head (version > CURRENT's) as a crashed
      // staged commit, swept it, and the later fastForward swapped main
      // onto a void manifest
      ManifestTable.vacuum(spark, dir, retainStagedMillis = 0L)
      ManifestTable.readBranch(spark, dir, "wap").count() shouldBe 120
      ManifestTable.fastForward(spark, dir, "wap")
      ManifestTable.read(spark, dir).count() shouldBe 120
    } finally rm(dir)
  }

  it should "skip files on both dimensions after a z-order compaction" in {
    val dir = tmpDir()
    try {
      // a 100×100 grid: every (a, b) pair exactly once
      ManifestTable.commit(spark, dir,
        (0L until 10000L).map(i => (i, (i % 100L).toInt, (i / 100L).toInt))
          .toDF("id", "a", "b"))
      ManifestTable.compactZOrder(spark, dir, "a", "b", bits = 7, targetFiles = 16)
      // correctness: the 2D stats-pruned read equals the full filter
      val got = ManifestTable.readBetween2D(spark, dir,
        "a", 10.0, 19.0, "b", 10.0, 19.0)
      got.count() shouldBe 100
      got.agg(sum(col("id"))).collect()(0).getLong(0) shouldBe
        ManifestTable.read(spark, dir)
          .filter(col("a").between(10, 19) && col("b").between(10, 19))
          .agg(sum(col("id"))).collect()(0).getLong(0)
      // skipping: each single-column prune keeps a stripe; their
      // intersection — what readBetween2D opens — is a small box, which
      // a single-key sort cannot give (its second column spans every file)
      val keptA = ManifestTable.pruneByRange(spark, dir, "a", 10.0, 19.0)._1.toSet
      val keptB = ManifestTable.pruneByRange(spark, dir, "b", 10.0, 19.0)._1.toSet
      val box = keptA.intersect(keptB)
      box.size should be < 16
      box.size should be <= math.min(keptA.size, keptB.size)
      box.size should be >= 1
    } finally rm(dir)
  }

  it should "skip files on three dimensions after an n-d z-order compaction" in {
    val dir = tmpDir()
    try {
      // a 20×20×20 cube: every (a, b, c) triple exactly once
      ManifestTable.commit(spark, dir,
        (0L until 8000L).map(i =>
          (i, (i % 20L).toInt, ((i / 20L) % 20L).toInt, (i / 400L).toInt))
          .toDF("id", "a", "b", "c"))
      ManifestTable.compactZOrderN(spark, dir, Seq("a", "b", "c"),
        bits = 5, targetFiles = 16)
      // correctness: the 3-sided stats-pruned read equals the full filter
      val got = ManifestTable.readBetweenNd(spark, dir, Seq(
        ("a", 5.0, 9.0), ("b", 5.0, 9.0), ("c", 5.0, 9.0)))
      got.count() shouldBe 125
      got.agg(sum(col("id"))).collect()(0).getLong(0) shouldBe
        ManifestTable.read(spark, dir)
          .filter(col("a").between(5, 9) && col("b").between(5, 9) &&
            col("c").between(5, 9))
          .agg(sum(col("id"))).collect()(0).getLong(0)
      // stripe-intersection census: each per-column prune keeps a
      // stripe; the 3-way intersection readBetweenNd opens is a small
      // box — strictly tighter than every single-dimension stripe
      val stripes = Seq("a", "b", "c").map(c =>
        ManifestTable.pruneByRange(spark, dir, c, 5.0, 9.0)._1.toSet)
      val box = stripes.reduce(_ intersect _)
      box.size should be < 16
      stripes.foreach(st => box.size should be <= st.size)
      box.size should be >= 1
      // the read opened exactly the box, not a 2-way relaxation
      got.inputFiles.length shouldBe box.size
    } finally rm(dir)
  }

  it should "answer an IN-list with one stats-pruned single-snapshot read" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 8000L).map(i => (i, (i / 500L).toInt)).toDF("id", "cell"))
      ManifestTable.compactSorted(spark, dir, Seq("cell"), targetFiles = 8)
      val totalFiles = ManifestTable.read(spark, dir).inputFiles.length
      // correctness: equals the unpruned filter, for a multi-point list
      val got = ManifestTable.readWhereIn(spark, dir, "cell", Seq(2.0, 9.0, 14.0))
      got.count() shouldBe 1500
      got.agg(sum(col("id"))).collect()(0).getLong(0) shouldBe
        ManifestTable.read(spark, dir).filter(col("cell").isin(2, 9, 14))
          .agg(sum(col("id"))).collect()(0).getLong(0)
      // pruning: the probe batch opens only the files whose [min, max]
      // can hold a requested value — ONE pointer resolution for the
      // whole list (readBetween-per-value would resolve CURRENT n times,
      // each a window for a commit to slip in between)
      got.inputFiles.length should be < totalFiles
      got.inputFiles.length should be >= 1
      // empty list: zero rows, correct schema, no files opened
      val none = ManifestTable.readWhereIn(spark, dir, "cell", Seq.empty)
      none.count() shouldBe 0
      none.columns.toSeq shouldBe Seq("id", "cell")
      // deletion vectors apply on this read path too: the DV lines
      // resolve against the SAME snapshot as the prune
      ManifestTable.deleteVectorWhere(spark, dir, "id", 1000.0, 1009.0)
      ManifestTable.readWhereIn(spark, dir, "cell", Seq(2.0))
        .count() shouldBe 490
    } finally rm(dir)
  }

  behavior of "ManifestTable index-source binding (#indexof)"

  it should "refuse a probe against an index whose corpus moved, until rebuilt" in {
    val corpusDir = tmpDir()
    val indexDir = tmpDir()
    try {
      ManifestTable.commit(spark, corpusDir,
        (0L until 1000L).map(i => (i, (i % 16L).toInt)).toDF("vec_id", "cell"))
      val v0 = ManifestTable.currentVersion(spark, corpusDir)
      ManifestTable.commitIndex(spark, indexDir,
        ManifestTable.read(spark, corpusDir), corpusDir, v0)
      ManifestTable.indexSourceOf(spark, indexDir) shouldBe Some((corpusDir, v0))
      noException should be thrownBy
        ManifestTable.requireIndexFresh(spark, indexDir)
      // clustering the index is a LAYOUT rewrite: the binding survives
      ManifestTable.compactSorted(spark, indexDir, Seq("cell"), targetFiles = 4)
      noException should be thrownBy
        ManifestTable.requireIndexFresh(spark, indexDir)
      // corpus append: every probe must now refuse — silently missing
      // the new vectors is the failure mode the binding exists to stop
      ManifestTable.append(spark, corpusDir,
        (1000L until 1100L).map(i => (i, (i % 16L).toInt)).toDF("vec_id", "cell"))
      val ex = intercept[IllegalStateException] {
        ManifestTable.requireIndexFresh(spark, indexDir)
      }
      ex.getMessage should include("stale index")
      // rebuild against the new snapshot: probes pass again
      ManifestTable.commitIndex(spark, indexDir,
        ManifestTable.read(spark, corpusDir), corpusDir,
        ManifestTable.currentVersion(spark, corpusDir))
      noException should be thrownBy
        ManifestTable.requireIndexFresh(spark, indexDir)
      // a plain commit voids the binding — an unbound index cannot
      // claim freshness
      ManifestTable.commit(spark, indexDir, ManifestTable.read(spark, indexDir))
      intercept[IllegalStateException] {
        ManifestTable.requireIndexFresh(spark, indexDir)
      }.getMessage should include("no #indexof")
    } finally { rm(corpusDir); rm(indexDir) }
  }

  it should "rebind the index source in the same transaction as a delta append" in {
    val corpusDir = tmpDir()
    val indexDir = tmpDir()
    try {
      ManifestTable.commit(spark, corpusDir,
        (0L until 800L).map(i => (i, (i % 16L).toInt)).toDF("vec_id", "cell"))
      val v0 = ManifestTable.currentVersion(spark, corpusDir)
      ManifestTable.commitIndex(spark, indexDir,
        ManifestTable.read(spark, corpusDir), corpusDir, v0)
      // corpus append -> stale; appendIndex lands ONLY the delta and
      // rebinds in one pointer move
      ManifestTable.append(spark, corpusDir,
        (800L until 900L).map(i => (i, (i % 16L).toInt)).toDF("vec_id", "cell"))
      val v1 = ManifestTable.currentVersion(spark, corpusDir)
      intercept[IllegalStateException] {
        ManifestTable.requireIndexFresh(spark, indexDir)
      }
      val preFiles = ManifestTable.read(spark, indexDir).inputFiles.toSet
      ManifestTable.appendIndex(spark, indexDir,
        ManifestTable.readChangesSince(spark, corpusDir, v0), corpusDir, v1)
      noException should be thrownBy
        ManifestTable.requireIndexFresh(spark, indexDir)
      ManifestTable.indexSourceOf(spark, indexDir) shouldBe Some((corpusDir, v1))
      val post = ManifestTable.read(spark, indexDir)
      post.count() shouldBe 900
      // O(delta): every pre-existing index file carried by reference
      preFiles.subsetOf(post.inputFiles.toSet) shouldBe true
    } finally { rm(corpusDir); rm(indexDir) }
  }

  it should "never lose a branch append under two racing writers (pointer CAS)" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 20L).map(i => (i, "base")).toDF("id", "v"))
      ManifestTable.createBranch(spark, dir, "race")
      // two writers, barrier-synced per round so their head-read →
      // slot-claim windows overlap: the create-if-absent CAS admits
      // exactly one claim per slot, the loser gets a CME and retries
      // against the new head. The OVERWRITE-rename pointer this
      // replaced was last-writer-wins inside that window — this test
      // fails against it by losing batches.
      val rounds = 4
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 2).map { w =>
        new Thread(() => {
          try {
            for (r <- 0 until rounds) {
              val batch = (0L until 5L)
                .map(i => (1000L + w * 100L + r * 10L + i, s"w$w-r$r"))
                .toDF("id", "v")
              barrier.await()
              var landed = false
              var attempts = 0
              while (!landed && attempts < 10) {
                attempts += 1
                try {
                  ManifestTable.appendToBranch(spark, dir, "race", batch)
                  landed = true
                } catch {
                  case _: java.util.ConcurrentModificationException =>
                    conflicts.incrementAndGet(): Unit
                }
              }
              if (!landed) throw new IllegalStateException(s"w$w r$r never landed")
            }
          } catch { case t: Throwable => failures.add(t): Unit }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(300000))
      failures shouldBe empty
      // no lost update: the base plus every one of the 8 batches landed
      val branch = ManifestTable.readBranch(spark, dir, "race")
      branch.count() shouldBe (20 + 2 * rounds * 5)
      branch.filter(col("id") >= 1000L).select(col("v")).distinct().count() shouldBe
        (2L * rounds)
      // main never saw any of it
      ManifestTable.read(spark, dir).count() shouldBe 20
      withClue("barrier-synced rounds should collide at least once: ") {
        conflicts.get() should be >= 1
      }
    } finally rm(dir)
  }

  behavior of "readWhereIn native-type equality"

  it should "compare int64 keys natively, never through double" in {
    val dir = tmpDir()
    try {
      // 2^53 and 2^53 + 1 are DIFFERENT longs but the SAME double: a
      // double-cast IN-list equality cannot tell them apart
      val big = 9007199254740992L // 2^53
      ManifestTable.commit(spark, dir,
        Seq((big, "a"), (big + 1L, "b"), (7L, "c")).toDF("k", "tag"))
      val got = ManifestTable.readWhereIn(spark, dir, "k", Seq(big + 1L))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      got shouldBe Array((big + 1L, "b"))
      // a fractional value can match no bigint row (native SQL equality
      // semantics), instead of rounding onto a neighbor
      ManifestTable.readWhereIn(spark, dir, "k", Seq(7.5)).count() shouldBe 0
      // whole doubles still convert exactly (back-compat callers)
      ManifestTable.readWhereIn(spark, dir, "k", Seq(7.0))
        .collect().map(_.getLong(0)) shouldBe Array(7L)
    } finally rm(dir)
  }

  behavior of "stream-batch idempotence markers (#streambatch)"

  it should "stamp appends per stream and answer the replay question" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir, Seq((1L, 1.0)).toDF("id", "v"))
      ManifestTable.lastStreamBatch(spark, dir, "s1") shouldBe None
      ManifestTable.appendStamped(spark, dir,
        Seq((2L, 2.0)).toDF("id", "v"), "s1", 0L)
      ManifestTable.lastStreamBatch(spark, dir, "s1") shouldBe Some(0L)
      // the foreachBatch guard: a replayed batch id is detected...
      ManifestTable.lastStreamBatch(spark, dir, "s1")
        .exists(_ >= 0L) shouldBe true
      // ...and a NEW batch is not
      ManifestTable.lastStreamBatch(spark, dir, "s1")
        .exists(_ >= 1L) shouldBe false
      // a later batch REPLACES the stream's marker (one per stream)
      ManifestTable.appendStamped(spark, dir,
        Seq((3L, 3.0)).toDF("id", "v"), "s1", 1L)
      ManifestTable.lastStreamBatch(spark, dir, "s1") shouldBe Some(1L)
      // markers are per-stream: a second writer's marker is independent
      ManifestTable.appendStamped(spark, dir,
        Seq((4L, 4.0)).toDF("id", "v"), "s2", 5L)
      ManifestTable.lastStreamBatch(spark, dir, "s1") shouldBe Some(1L)
      ManifestTable.lastStreamBatch(spark, dir, "s2") shouldBe Some(5L)
      // plain appends and compaction CARRY markers (idempotence must
      // survive unrelated table maintenance)
      ManifestTable.append(spark, dir, Seq((5L, 5.0)).toDF("id", "v"))
      ManifestTable.compact(spark, dir, targetFiles = 1)
      ManifestTable.lastStreamBatch(spark, dir, "s1") shouldBe Some(1L)
      ManifestTable.lastStreamBatch(spark, dir, "s2") shouldBe Some(5L)
      ManifestTable.read(spark, dir).count() shouldBe 5
    } finally rm(dir)
  }

  it should "stamp an index append atomically with its #indexof rebind" in {
    val corpusDir = tmpDir()
    val indexDir = tmpDir()
    try {
      val v0 = ManifestTable.commit(spark, corpusDir,
        Seq((1L, 0L)).toDF("vec_id", "cell")).version
      ManifestTable.commitIndex(spark, indexDir,
        Seq((1L, 0L)).toDF("vec_id", "cell"), corpusDir, v0)
      val v1 = ManifestTable.appendStamped(spark, corpusDir,
        Seq((2L, 1L)).toDF("vec_id", "cell"), "ann", 0L).version
      ManifestTable.appendIndexStamped(spark, indexDir,
        Seq((2L, 1L)).toDF("vec_id", "cell"), corpusDir, v1, "ann", 0L)
      // one pointer move carried BOTH the marker and the rebind
      ManifestTable.lastStreamBatch(spark, indexDir, "ann") shouldBe Some(0L)
      ManifestTable.indexSourceOf(spark, indexDir) shouldBe
        Some((corpusDir, v1))
      noException should be thrownBy
        ManifestTable.requireIndexFresh(spark, indexDir)
    } finally { rm(corpusDir); rm(indexDir) }
  }

  it should "carry #meta table metadata with the index lifecycle and replace keys transactionally" in {
    val corpusDir = tmpDir()
    val indexDir = tmpDir()
    try {
      val v0 = ManifestTable.commit(spark, corpusDir,
        Seq((1L, "a")).toDF("id", "term")).version
      ManifestTable.commitIndex(spark, indexDir,
        Seq(("a", 1L)).toDF("term", "id"), corpusDir, v0,
        meta = Map("retrieval.n_docs" -> "1", "retrieval.total_dl" -> "7"))
      ManifestTable.properties(spark, indexDir) shouldBe
        Map("retrieval.n_docs" -> "1", "retrieval.total_dl" -> "7")
      // a layout rewrite changes no content: metadata carries verbatim
      ManifestTable.compactSorted(spark, indexDir, Seq("term"), targetFiles = 1)
      ManifestTable.properties(spark, indexDir) shouldBe
        Map("retrieval.n_docs" -> "1", "retrieval.total_dl" -> "7")
      // appendIndex replaces ONLY the keys it names, keeping the rest
      val v1 = ManifestTable.append(spark, corpusDir,
        Seq((2L, "b")).toDF("id", "term")).version
      ManifestTable.appendIndex(spark, indexDir,
        Seq(("b", 2L)).toDF("term", "id"), corpusDir, v1,
        meta = Map("retrieval.n_docs" -> "2"))
      ManifestTable.properties(spark, indexDir) shouldBe
        Map("retrieval.n_docs" -> "2", "retrieval.total_dl" -> "7")
      // a plain commit voids derived-table metadata like it voids #indexof
      ManifestTable.commit(spark, indexDir,
        Seq(("c", 3L)).toDF("term", "id"))
      ManifestTable.properties(spark, indexDir) shouldBe Map.empty
    } finally { rm(corpusDir); rm(indexDir) }
  }

  it should "feed row-level deletes since a version from DV sidecars alone" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 20L).map(i => (i, s"r$i")).toDF("id", "v"))
      val v0 = ManifestTable.currentVersion(spark, dir)
      // an empty window feeds nothing
      ManifestTable.readDeletesSince(spark, dir, v0).count() shouldBe 0
      ManifestTable.append(spark, dir,
        (20L until 30L).map(i => (i, s"r$i")).toDF("id", "v"))
      ManifestTable.deleteVectorWhere(spark, dir, "id", 3.0, 5.0)
      ManifestTable.deleteVectorWhere(spark, dir, "id", 25.0, 26.0)
      val dels = ManifestTable.readDeletesSince(spark, dir, v0)
        .select("id").collect().map(_.getLong(0)).sorted
      dels shouldBe Array(3L, 4L, 5L, 25L, 26L)
      // net-change pair: the insert feed excludes the in-window deletes
      val ins = ManifestTable.readChangesSince(spark, dir, v0)
        .select("id").collect().map(_.getLong(0)).sorted
      ins shouldBe (20L until 30L).filterNot(Set(25L, 26L)).toArray
      // deletes BEFORE the window don't re-feed
      val v1 = ManifestTable.currentVersion(spark, dir)
      ManifestTable.deleteVectorWhere(spark, dir, "id", 10.0, 10.0)
      ManifestTable.readDeletesSince(spark, dir, v1)
        .select("id").collect().map(_.getLong(0)) shouldBe Array(10L)
      // a rewrite breaks position identity: the feed refuses
      ManifestTable.compactSorted(spark, dir, Seq("id"), 1)
      an[IllegalArgumentException] should be thrownBy
        ManifestTable.readDeletesSince(spark, dir, v1)
    } finally rm(dir)
  }

  it should "estimate cross-table key overlap from manifest sketches, exact below k" in {
    val a = tmpDir(); val b = tmpDir(); val a2 = tmpDir()
    try {
      // below k = 64: sketches ARE the distinct hash sets — every
      // estimate exact. 30 keys in A (0..29), 40 in B (20..59), ∩ = 10.
      ManifestTable.append(spark, a,
        (0L until 15L).map(i => (i, "x")).toDF("id", "t"))
      ManifestTable.append(spark, a,
        (15L until 30L).map(i => (i, "x")).toDF("id", "t"))
      ManifestTable.commit(spark, b,
        (20L until 60L).map(i => (i, "y")).toDF("id", "t"))
      ManifestTable.addNdvSketch(spark, a, "id")
      ManifestTable.addNdvSketch(spark, b, "id")
      val ov = ManifestTable.estimateKeyOverlap(spark, a, "id", b, "id")
      ov("est_a") shouldBe 30.0
      ov("est_b") shouldBe 40.0
      ov("est_union") shouldBe 60.0
      ov("est_intersection") shouldBe 10.0 +- 1e-9
      // the KMV merge law: a different file layout of the same content
      // produces the identical table-level sketch and estimates
      ManifestTable.commit(spark, a2,
        (0L until 30L).map(i => (i, "x")).toDF("id", "t"))
      ManifestTable.addNdvSketch(spark, a2, "id")
      ManifestTable.estimateKeyOverlap(spark, a2, "id", b, "id") shouldBe ov
      // partial sketch coverage refuses instead of under-estimating
      ManifestTable.append(spark, a, Seq((99L, "x")).toDF("id", "t"))
      an[IllegalArgumentException] should be thrownBy
        ManifestTable.estimateKeyOverlap(spark, a, "id", b, "id")
    } finally { rm(a); rm(b); rm(a2) }
  }

  it should "enforce UNIQUE keys on every append, probing the table stats-bounded" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
      ManifestTable.addUnique(spark, dir, "id")
      ManifestTable.uniqueKeys(spark, dir) shouldBe Seq("id")
      // fresh keys land
      ManifestTable.append(spark, dir, Seq((3L, "c")).toDF("id", "tag"))
      // an intra-batch duplicate refuses
      an[IllegalArgumentException] should be thrownBy
        ManifestTable.append(spark, dir,
          Seq((4L, "d"), (4L, "e")).toDF("id", "tag"))
      // a collision with the table refuses
      an[IllegalArgumentException] should be thrownBy
        ManifestTable.append(spark, dir, Seq((2L, "x")).toDF("id", "tag"))
      // a null key refuses (the primary-key contract)
      an[IllegalArgumentException] should be thrownBy
        ManifestTable.append(spark, dir,
          Seq((null.asInstanceOf[java.lang.Long], "n"))
            .toDF("id", "tag"))
      // refusals landed nothing
      ManifestTable.read(spark, dir).count() shouldBe 3
      // the constraint survives compaction AND a validated overwrite
      ManifestTable.compactSorted(spark, dir, Seq("id"), 1)
      ManifestTable.uniqueKeys(spark, dir) shouldBe Seq("id")
      an[IllegalArgumentException] should be thrownBy
        ManifestTable.commit(spark, dir,
          Seq((9L, "a"), (9L, "b")).toDF("id", "tag"))
      // registering over existing duplicates refuses
      val dup = tmpDir()
      try {
        ManifestTable.commit(spark, dup,
          Seq((1L, "a"), (1L, "b")).toDF("id", "tag"))
        an[IllegalArgumentException] should be thrownBy
          ManifestTable.addUnique(spark, dup, "id")
      } finally rm(dup)
      // string keys probe via UTF-8 stats
      val sdir = tmpDir()
      try {
        ManifestTable.commit(spark, sdir,
          Seq(("k1", 1L), ("k2", 2L)).toDF("key", "v"))
        ManifestTable.addUnique(spark, sdir, "key")
        ManifestTable.append(spark, sdir, Seq(("k3", 3L)).toDF("key", "v"))
        an[IllegalArgumentException] should be thrownBy
          ManifestTable.append(spark, sdir, Seq(("k2", 9L)).toDF("key", "v"))
      } finally rm(sdir)
    } finally rm(dir)
  }

  it should "attach file-commit lineage to every row, rewrites owning what they rewrote" in {
    val dir = tmpDir()
    try {
      val v0 = ManifestTable.append(spark, dir,
        Seq((1L, "a"), (2L, "a")).toDF("id", "tag")).version
      val v1 = ManifestTable.append(spark, dir,
        Seq((3L, "b")).toDF("id", "tag")).version
      def lineage() = ManifestTable.readWithLineage(spark, dir)
        .select("id", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      lineage() shouldBe Array((1L, v0), (2L, v0), (3L, v1))
      // a DV delete changes no file: survivors keep their lineage
      ManifestTable.deleteVectorWhere(spark, dir, "id", 2.0, 2.0)
      lineage() shouldBe Array((1L, v0), (3L, v1))
      // a layout rewrite owns every row it rewrote
      val vc = ManifestTable.compactSorted(spark, dir, Seq("id"), 1).version
      lineage() shouldBe Array((1L, vc), (3L, vc))
    } finally rm(dir)
  }

  it should "answer count and min/max from metadata alone, refusing when inexact" in {
    val dir = tmpDir()
    try {
      ManifestTable.append(spark, dir,
        (0L until 100L).map(i => (i, s"s${i % 7}")).toDF("id", "tag"))
      ManifestTable.append(spark, dir,
        (100L until 250L).map(i => (i, s"s${i % 7}")).toDF("id", "tag"))
      ManifestTable.countFromMetadata(spark, dir) shouldBe Some(250L)
      ManifestTable.minMaxFromMetadata(spark, dir, "id")
        .map { case (a, b) => (a.toLong, b.toLong) } shouldBe Some((0L, 249L))
      // string column: UTF-8 ordered bounds
      ManifestTable.minMaxFromMetadata(spark, dir, "tag") shouldBe
        Some(("s0", "s6"))
      // copy-on-write delete rewrites stats: still exact
      ManifestTable.deleteWhere(spark, dir, "id", 0.0, 9.0)
      ManifestTable.countFromMetadata(spark, dir) shouldBe Some(240L)
      ManifestTable.minMaxFromMetadata(spark, dir, "id")
        .map { case (a, b) => (a.toLong, b.toLong) } shouldBe Some((10L, 249L))
      // a DV delete: count subtracts the sidecar, min/max refuses
      ManifestTable.deleteVectorWhere(spark, dir, "id", 10.0, 19.0)
      ManifestTable.countFromMetadata(spark, dir) shouldBe Some(230L)
      ManifestTable.minMaxFromMetadata(spark, dir, "id") shouldBe None
      // the metadata count equals the scanned truth throughout
      ManifestTable.read(spark, dir).count() shouldBe 230L
    } finally rm(dir)
  }

  it should "prune string IN-list reads by UTF-8 stats on a term-clustered layout" in {
    val dir = tmpDir()
    try {
      // 26 terms, term-range-clustered into 4 files: a 2-term probe can
      // touch at most 2 files, and the pruned read equals the full filter
      val rows = ('a' to 'z').flatMap(c =>
        (0 until 5).map(i => (s"$c$i-term", i.toLong)))
      ManifestTable.commit(spark, dir, rows.toDF("term", "id"))
      ManifestTable.compactSorted(spark, dir, Seq("term"), targetFiles = 4)
      val probe = Seq("c1-term", "z4-term")
      val got = ManifestTable
        .readWhereIn(spark, dir, "term", probe)
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted
      val want = ManifestTable.read(spark, dir)
        .filter(col("term").isin(probe: _*))
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted
      got shouldBe want
      got.length shouldBe 2
      // the prune itself: both probed terms live in 1 file each out of 4
      val keptA = ManifestTable.pruneByEquals(spark, dir, "term", "c1-term")
      keptA._1.size should be < keptA._2
      // an absent value between ranges opens nothing extra vs its range
      val gotNone = ManifestTable
        .readWhereIn(spark, dir, "term", Seq("zzzz-absent"))
        .count()
      gotNone shouldBe 0L
    } finally rm(dir)
  }

  it should "resolve TIMESTAMP AS OF against commit times" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "v"))
      Thread.sleep(1100) // pin mtime order on second-granularity filesystems
      ManifestTable.append(spark, dir, Seq((2L, "b")).toDF("id", "v"))
      val times = ManifestTable.commitTimes(spark, dir)
      times.map(_._1) shouldBe Seq(0L, 1L)
      times(1)._2 should be > times(0)._2
      ManifestTable.versionAsOf(spark, dir, times(0)._2) shouldBe 0L
      ManifestTable.versionAsOf(spark, dir, Long.MaxValue) shouldBe 1L
      ManifestTable.readAsOf(spark, dir, times(0)._2)
        .collect().map(_.getLong(0)) shouldBe Array(1L)
      // before the first commit there was no table: refuse
      an[IllegalArgumentException] should be thrownBy
        ManifestTable.versionAsOf(spark, dir, times(0)._2 - 10000L)
      // a staged-but-unpublished slot is not a commit and never lists
      ManifestTable.stageAppend(spark, dir, Seq((9L, "z")).toDF("id", "v")): Unit
      ManifestTable.commitTimes(spark, dir).map(_._1) shouldBe Seq(0L, 1L)
    } finally rm(dir)
  }

  it should "update rows merge-on-read: one sidecar + new copies, one swap" in {
    val dir = tmpDir()
    try {
      val rows = (0L until 100L).map(i => (i, i * 10)).toDF("id", "x")
      ManifestTable.commit(spark, dir, rows.repartition(4))
      val before = ManifestTable.currentFiles(spark, dir)
      ManifestTable.updateVectorWhere(spark, dir, "id", 20.0, 29.0,
        Map("x" -> (col("x") + lit(1L))))
      // original files survive untouched; copies + one sidecar landed
      val after = ManifestTable.currentFiles(spark, dir)
      before.toSet.subsetOf(after.toSet) shouldBe true
      ManifestTable.currentDeleteVectors(spark, dir) should have size 1
      // every row in exactly one version
      val got = ManifestTable.read(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      got shouldBe (0L until 100L)
        .map(i => (i, if (i >= 20 && i <= 29) i * 10 + 1 else i * 10)).toArray
      // a second update composes (updated copies are live candidates)
      ManifestTable.updateVectorWhere(spark, dir, "id", 25.0, 34.0,
        Map("x" -> (col("x") + lit(1000L))))
      ManifestTable.read(spark, dir)
        .filter(col("id").isin(24L, 25L, 30L, 35L))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe
        Array((24L, 241L), (25L, 1251L), (30L, 1300L), (35L, 350L))
      // a no-match update is a metadata no-op
      val v = ManifestTable.currentVersion(spark, dir)
      ManifestTable.updateVectorWhere(spark, dir, "id", 900.0, 999.0,
        Map("x" -> (col("x") + lit(1L))))
      ManifestTable.currentVersion(spark, dir) shouldBe v
    } finally rm(dir)
  }

  it should "maintain an enrichment join from the change feed, appends only" in {
    val src = tmpDir(); val out = tmpDir()
    try {
      val dim = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
      ManifestTable.append(spark, src, Seq((10L, 1L), (11L, 2L)).toDF("id", "k"))
      var w = ManifestTable.maintainEnriched(spark, src, out, -1L, dim, "k")
      ManifestTable.append(spark, src,
        Seq((12L, 1L), (13L, 9L)).toDF("id", "k")) // 9 has no dim row
      val outV0 = ManifestTable.currentVersion(spark, out)
      w = ManifestTable.maintainEnriched(spark, src, out, w, dim, "k")
      // the refresh APPENDED to the target (itself consumable as a feed)
      ManifestTable.currentVersion(spark, out) shouldBe outV0 + 1
      ManifestTable.readChangesSince(spark, out, outV0)
        .select("id").collect().map(_.getLong(0)).sorted shouldBe
        Array(12L, 13L)
      ManifestTable.read(spark, out)
        .collect().map(r => (r.getLong(1), Option(r.getString(2)))).sorted shouldBe
        Array((10L, Some("a")), (11L, Some("b")), (12L, Some("a")), (13L, None))
      // an idle refresh commits nothing
      val before = ManifestTable.currentVersion(spark, out)
      ManifestTable.maintainEnriched(spark, src, out, w, dim, "k") shouldBe w
      ManifestTable.currentVersion(spark, out) shouldBe before
      // a source rewrite re-bootstraps the target instead of double-counting
      ManifestTable.compact(spark, src, targetFiles = 1)
      ManifestTable.maintainEnriched(spark, src, out, w, dim, "k")
      ManifestTable.read(spark, out).count() shouldBe 4L
    } finally { rm(src); rm(out) }
  }

  it should "open one bucket's files per point probe on a hash-bucket layout" in {
    val dir = tmpDir()
    try {
      val rows = (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
      ManifestTable.commit(spark, dir, rows.repartition(8))
      ManifestTable.compactBucketed(spark, dir, "id", numBuckets = 8)
      // every current file carries a __p= segment; a probe opens ~1/8
      val (kept, total) = ManifestTable.pruneByBucket(spark, dir, 123L)
      total should be >= 8
      kept.size should be < total / 2
      // the probe is exact, bucket siblings filtered out row-level
      ManifestTable.readWhereEqualsBucketed(spark, dir, 123L)
        .collect().map(r => (r.getLong(0), r.getString(1))) shouldBe
        Array((123L, "v123"))
      // a key outside the domain reads its bucket and matches nothing
      ManifestTable.readWhereEqualsBucketed(spark, dir, 40400L).count() shouldBe 0L
      // an append breaks the pure layout: the probe refuses loudly
      // rather than silently missing the appended rows
      ManifestTable.append(spark, dir, Seq((999L, "late")).toDF("id", "v"))
      an[IllegalArgumentException] should be thrownBy
        ManifestTable.pruneByBucket(spark, dir, 999L)
    } finally rm(dir)
  }

  it should "maintain a bound index through source deletes: DV + rebind in one move" in {
    val src = tmpDir(); val idx = tmpDir()
    try {
      val corpus = (0L until 40L).map(i => (i, i % 4)).toDF("id", "cell")
      ManifestTable.commit(spark, src, corpus)
      ManifestTable.commitIndex(spark, idx, corpus, src, 0L,
        meta = Map("n" -> "40", "keep" -> "yes"))
      // erase source keys 10..19 (merge-on-read): the bound index goes stale
      ManifestTable.deleteVectorWhere(spark, src, "id", 10.0, 19.0)
      an[IllegalStateException] should be thrownBy
        ManifestTable.requireIndexFresh(spark, idx)
      val erased = ManifestTable.readDeletesSince(spark, src, 0L)
        .select("id").collect().map(_.getLong(0)).toSeq
      erased.sorted shouldBe (10L to 19L)
      ManifestTable.deleteIndexVectorIn(spark, idx, "id", erased,
        src, ManifestTable.currentVersion(spark, src),
        meta = Map("n" -> "30"))
      ManifestTable.requireIndexFresh(spark, idx)
      // named meta keys replaced in the same move, unnamed ones carried
      ManifestTable.properties(spark, idx) shouldBe
        Map("n" -> "30", "keep" -> "yes")
      // the dropped keys are gone from every read path, files unrewritten
      ManifestTable.read(spark, idx)
        .collect().map(_.getLong(0)).sorted shouldBe
        ((0L to 9L) ++ (20L to 39L))
      ManifestTable.currentDeleteVectors(spark, idx) should have size 1
      // a delete matching NO index row still lands the rebind — the gate
      // must reopen after a corpus-only erasure
      ManifestTable.deleteVectorWhere(spark, src, "id", 500.0, 600.0)
      ManifestTable.deleteIndexVectorIn(spark, idx, "id", Seq(555L),
        src, ManifestTable.currentVersion(spark, src))
      ManifestTable.requireIndexFresh(spark, idx)
      ManifestTable.read(spark, idx).count() shouldBe 30L
    } finally { rm(src); rm(idx) }
  }

  it should "pin a consistent cross-table view through the txn catalog" in {
    val cat = tmpDir(); val da = tmpDir(); val db = tmpDir()
    try {
      ManifestTable.commit(spark, da, Seq((1L, "a")).toDF("id", "v"))
      ManifestTable.commit(spark, db, Seq((1L, 10L)).toDF("id", "n"))
      ManifestTable.commitTxnPins(spark, cat,
        Seq(("a", da, 0L), ("b", db, 0L))) shouldBe 0L
      // one transaction appends to BOTH member tables
      val sA = ManifestTable.stageAppend(spark, da, Seq((2L, "b")).toDF("id", "v"))
      val sB = ManifestTable.stageAppend(spark, db, Seq((2L, 20L)).toDF("id", "n"))
      ManifestTable.commitTxn(spark, cat,
        Seq(("a", da, sA), ("b", db, sB))) shouldBe 1L
      // per-table CURRENT moves past the transaction — the catalog view
      // must not follow
      ManifestTable.append(spark, da, Seq((99L, "z")).toDF("id", "v"))
      ManifestTable.readTxn(spark, cat, "a")
        .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
      ManifestTable.readTxn(spark, cat, "b")
        .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
      ManifestTable.read(spark, da).count() shouldBe 3L
    } finally { rm(cat); rm(da); rm(db) }
  }

  it should "carry the basis files' metadata through a staged transaction append" in {
    val cat = tmpDir(); val da = tmpDir()
    try {
      ManifestTable.commit(spark, da, (0L until 40L).map(i => (i, "a")).toDF("id", "v"))
      val sA = ManifestTable.stageAppend(spark, da,
        (40L until 45L).map(i => (i, "b")).toDF("id", "v"))
      sA.basisVersion shouldBe 0L
      ManifestTable.commitTxn(spark, cat, Seq(("a", da, sA))) shouldBe 0L
      // every file keeps its #size line, so the count needs no data read
      ManifestTable.countFromMetadata(spark, da) shouldBe Some(45L)
      // and the manifest names the carried files relative to the table
      val src = scala.io.Source.fromFile(
        new java.io.File(new java.io.File(da, "_manifests"), sA.manifestName))
      val rels = try src.getLines().filterNot(_.startsWith("#")).toList finally src.close()
      rels should not be empty
      all(rels) should startWith ("data/")
    } finally { rm(cat); rm(da) }
  }

  it should "never move the catalog on a torn transaction, releasing staged slots" in {
    val cat = tmpDir(); val da = tmpDir(); val db = tmpDir()
    try {
      ManifestTable.commit(spark, da, Seq((1L, "a")).toDF("id", "v"))
      ManifestTable.commit(spark, db, Seq((1L, 10L)).toDF("id", "n"))
      ManifestTable.commitTxnPins(spark, cat,
        Seq(("a", da, 0L), ("b", db, 0L)))
      val sA = ManifestTable.stageAppend(spark, da, Seq((2L, "b")).toDF("id", "v"))
      val sB = ManifestTable.stageAppend(spark, db, Seq((2L, 20L)).toDF("id", "n"))
      // a concurrent writer moves table b between stage and commit — b's
      // publish is refused by optimistic concurrency
      ManifestTable.append(spark, db, Seq((7L, 70L)).toDF("id", "n"))
      an[java.util.ConcurrentModificationException] should be thrownBy
        ManifestTable.commitTxn(spark, cat, Seq(("a", da, sA), ("b", db, sB)))
      // the catalog never moved: txn readers keep the LAST consistent set
      ManifestTable.txnVersion(spark, cat) shouldBe 0L
      ManifestTable.readTxn(spark, cat, "a")
        .collect().map(_.getLong(0)) shouldBe Array(1L)
      ManifestTable.readTxn(spark, cat, "b")
        .collect().map(_.getLong(0)) shouldBe Array(1L)
      // table a DID move (the documented weaker per-table view); b's
      // failed staged slot was released, so the next commit claims it
      ManifestTable.read(spark, da).count() shouldBe 2L
      val retry = ManifestTable.stageAppend(spark, db,
        Seq((2L, 20L)).toDF("id", "n"))
      // rebased on the concurrent append's published version
      retry.basisVersion shouldBe ManifestTable.currentVersion(spark, db)
      ManifestTable.commitTxn(spark, cat, Seq(("b", db, retry))) shouldBe 1L
      ManifestTable.readTxn(spark, cat, "b")
        .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 7L)
      // member a's pin carried forward unchanged through b's retry txn
      ManifestTable.txnState(spark, cat)("a").version shouldBe 0L
    } finally { rm(cat); rm(da); rm(db) }
  }

  it should "never lose a pin under concurrent catalog commits" in {
    // the r11 ADVICE hazard: two committers both read catalog state at
    // the same basis; without the pre-swap basis re-check the later
    // pointer swap silently dropped the earlier one's pins. Racing
    // writers (each retrying on the ConcurrentModificationException the
    // fix throws, as commitTxn does) must land EVERY pin.
    val cat = tmpDir()
    try {
      val writers = 4
      val perWriter = 5
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      try {
        val futs = (0 until writers).map { wtr =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = (0 until perWriter).foreach { i =>
              var done = false
              while (!done) {
                try {
                  ManifestTable.commitTxnPins(spark, cat,
                    Seq((s"t$wtr-$i", s"/data/$wtr/$i", i.toLong)))
                  done = true
                } catch {
                  case _: java.util.ConcurrentModificationException => ()
                }
              }
            }
          })
        }
        futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      val pins = ManifestTable.txnState(spark, cat)
      // the lost-update check: every one of the 20 pins survived
      pins.keySet shouldBe (for {
        w <- 0 until writers; i <- 0 until perWriter
      } yield s"t$w-$i").toSet
      (0 until writers).foreach { w =>
        (0 until perWriter).foreach { i =>
          pins(s"t$w-$i").version shouldBe i.toLong
        }
      }
    } finally rm(cat)
  }

  it should "trim catalog history while the current pins and CAS chain survive" in {
    val cat = tmpDir()
    try {
      (0 until 7).foreach { i =>
        ManifestTable.commitTxnPins(spark, cat, Seq((s"t$i", s"/d/$i", i.toLong)))
      }
      ManifestTable.txnVersion(spark, cat) shouldBe 6L
      ManifestTable.vacuumTxnCatalog(spark, cat, keepLast = 2) shouldBe 5
      // current state is the MAX record — untouched by any suffix-
      // preserving sweep; all 7 pins still resolve (records accumulate
      // the full merged map)
      ManifestTable.txnVersion(spark, cat) shouldBe 6L
      ManifestTable.txnState(spark, cat).keySet shouldBe
        (0 until 7).map(i => s"t$i").toSet
      // and the chain keeps advancing past the trim
      ManifestTable.commitTxnPins(spark, cat,
        Seq(("t7", "/d/7", 7L))) shouldBe 7L
      ManifestTable.txnState(spark, cat)("t7").version shouldBe 7L
    } finally rm(cat)
  }

  it should "carry #streambatch, #indexof and #meta through a bucket layout rewrite" in {
    val corpusDir = tmpDir(); val dir = tmpDir()
    try {
      val v0 = ManifestTable.commit(spark, corpusDir,
        Seq((1L, "a")).toDF("id", "term")).version
      ManifestTable.commitIndex(spark, dir,
        Seq((1L, 7L)).toDF("id", "v"), corpusDir, v0,
        meta = Map("retrieval.n_docs" -> "1"))
      ManifestTable.appendStamped(spark, dir,
        Seq((2L, 8L)).toDF("id", "v"), "s1", 3L)
      ManifestTable.compactBucketed(spark, dir, "id", numBuckets = 2)
      // a layout rewrite changes no content: the stream-batch idempotence
      // marker, the index source binding, and corpus stats all survive
      // (dropping #streambatch would let a foreachBatch replay after the
      // compaction double-append)
      ManifestTable.lastStreamBatch(spark, dir, "s1") shouldBe Some(3L)
      ManifestTable.properties(spark, dir)
        .get("retrieval.n_docs") shouldBe Some("1")
      // re-bucketing replaces the layout spec instead of stacking a
      // second stale #meta line
      ManifestTable.compactBucketed(spark, dir, "id", numBuckets = 4)
      ManifestTable.properties(spark, dir)
        .get("layout.bucket") shouldBe Some("id|4")
      ManifestTable.lastStreamBatch(spark, dir, "s1") shouldBe Some(3L)
      ManifestTable.readWhereEqualsBucketed(spark, dir, 2L)
        .collect().map(_.getLong(1)) shouldBe Array(8L)
    } finally { rm(corpusDir); rm(dir) }
  }

  it should "re-bootstrap a rollup and an enrichment when the source takes a DV-only delete" in {
    val src = tmpDir(); val agg = tmpDir(); val out = tmpDir()
    try {
      ManifestTable.commit(spark, src,
        Seq((1L, 1.0), (1L, 2.0), (2L, 3.0)).toDF("k", "v"))
      var wr = ManifestTable.maintainRollup(spark, src, agg, -1L, "k", "v")
      val dim = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
      var we = ManifestTable.maintainEnriched(spark, src, out, -1L, dim, "k")
      // sidecar-only change: same data files, one row gone behind a DV
      ManifestTable.deleteVectorWhere(spark, src, "v", 2.0, 2.0)
      ManifestTable.read(spark, src).count() shouldBe 2L
      // the file-set diff alone would see "no change" and silently keep
      // the deleted row in both targets — the DV-line diff forces the
      // re-bootstrap that keeps the stated equality contracts
      wr = ManifestTable.maintainRollup(spark, src, agg, wr, "k", "v")
      ManifestTable.read(spark, agg)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).sorted shouldBe
        Array((1L, 1.0), (2L, 3.0))
      we = ManifestTable.maintainEnriched(spark, src, out, we, dim, "k")
      ManifestTable.read(spark, out).count() shouldBe 2L
      // and the refresh after the re-bootstrap is incremental again
      ManifestTable.append(spark, src, Seq((3L, 4.0)).toDF("k", "v"))
      val outV = ManifestTable.currentVersion(spark, out)
      ManifestTable.maintainEnriched(spark, src, out, we, dim, "k")
      ManifestTable.currentVersion(spark, out) shouldBe outV + 1
      ManifestTable.read(spark, out).count() shouldBe 3L
    } finally { rm(src); rm(agg); rm(out) }
  }

  // The jobs `body` launches from this thread: a census by a local
  // property every job it submits carries. Listener delivery is async, so
  // a marker job under a second tag closes the census — the bus delivers
  // in order, so once the marker is seen every earlier job has been.
  private def jobsOf(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.census")))
          .foreach(seen.add(_): Unit)
    }
    def tagged(t: String)(f: => Any): Unit = {
      sc.setLocalProperty("graft.census", t)
      try f finally sc.setLocalProperty("graft.census", null)
    }
    sc.addSparkListener(listener)
    try {
      tagged(tag)(body)
      tagged(s"$tag-end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(s"$tag-end") && System.nanoTime() < deadline)
        Thread.sleep(20)
      withClue("the census marker job was never seen: ") {
        seen.contains(s"$tag-end") shouldBe true
      }
      seen.toArray.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  it should "resolve every read's schema from the manifest, launching no job" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir,
        (0L until 40L).map(i => (i, s"v$i", i * 0.5)).toDF("id", "v", "x").coalesce(2))
      ManifestTable.deleteVectorWhere(spark, dir, "id", 3.0, 5.0)
      jobsOf(ManifestTable.read(spark, dir).schema) shouldBe 0
      jobsOf(ManifestTable.readWhereIn(spark, dir, "id", Seq(7L, 8L)).schema) shouldBe 0
      jobsOf(ManifestTable.currentSchema(spark, dir)) shouldBe 0
      // a read the stats prune to no file is the empty frame of the schema
      val none = ManifestTable.readWhereIn(spark, dir, "id", Seq(1000L))
      none.schema shouldBe ManifestTable.read(spark, dir).schema
      none.count() shouldBe 0L
      // one DV delete on a table that already carries a vector: the
      // sidecar broadcast, the shuffle to one writer and the write
      jobsOf(ManifestTable.deleteVectorWhereIn(spark, dir, "id", Seq(10L, 11L))) shouldBe 3
      ManifestTable.read(spark, dir).count() shouldBe 35L
    } finally rm(dir)
  }

  it should "read every write path's files under the schema inference would give" in {
    val corpus = tmpDir()
    val df = (0L until 30L).map(i => (i, s"v${i % 3}", i * 0.5, Seq(i.toDouble)))
      .toDF("id", "v", "x", "arr")
      .withColumn("st", struct(col("id").as("a"), lit("b").as("b")))
    def sameAsInferred(dir: String): Unit = {
      val files = ManifestTable.currentFiles(spark, dir)
      ManifestTable.read(spark, dir).schema shouldBe spark.read.parquet(files: _*).schema
    }
    val dirs = Seq.fill(6)(tmpDir())
    val Seq(dCommit, dAppend, dSlices, dParts, dIndex, dVector) = dirs
    try {
      ManifestTable.commit(spark, corpus, df)
      ManifestTable.commit(spark, dCommit, df)
      sameAsInferred(dCommit)
      ManifestTable.compactSorted(spark, dCommit, Seq("id"), targetFiles = 2)
      sameAsInferred(dCommit)
      ManifestTable.append(spark, dAppend, df)
      ManifestTable.append(spark, dAppend, df)
      sameAsInferred(dAppend)
      ManifestTable.appendSlices(spark, dSlices, df, "v", keepSliceCol = true)
      sameAsInferred(dSlices)
      ManifestTable.replacePartitions(spark, dParts, df, "v")
      sameAsInferred(dParts)
      ManifestTable.commitIndex(spark, dIndex, df, corpus,
        ManifestTable.currentVersion(spark, corpus))
      sameAsInferred(dIndex)
      ManifestTable.commit(spark, dVector, df)
      ManifestTable.updateVectorWhere(spark, dVector, "id", 0.0, 4.0,
        Map("x" -> lit(-1.0)))
      sameAsInferred(dVector)
      ManifestTable.read(spark, dVector).filter(col("x") === -1.0).count() shouldBe 5L
    } finally (corpus +: dirs).foreach(rm)
  }

  it should "keep the first commit's column order through appends in any column order" in {
    val dir = tmpDir()
    try {
      def batch(i: Long) = Seq((i, s"b$i")).toDF("a", "b")
      ManifestTable.commit(spark, dir, batch(0L))
      (1L to 6L).foreach { i =>
        val df = if (i % 2 == 1) batch(i).select("b", "a") else batch(i)
        ManifestTable.append(spark, dir, df)
        ManifestTable.read(spark, dir).columns shouldBe Array("a", "b")
      }
      ManifestTable.createBranch(spark, dir, "wap")
      ManifestTable.appendToBranch(spark, dir, "wap", batch(7L).select("b", "a"))
      ManifestTable.readBranch(spark, dir, "wap").columns shouldBe Array("a", "b")
      ManifestTable.read(spark, dir).count() shouldBe 7L
      // a schema-evolving append still advances the committed schema
      ManifestTable.appendEvolve(spark, dir,
        Seq(("b8", 8L, 1.0)).toDF("b", "a", "c"))
      ManifestTable.read(spark, dir).columns shouldBe Array("b", "a", "c")
    } finally rm(dir)
  }

  it should "refuse a manifest without a #schema line, naming the table" in {
    val dir = tmpDir()
    try {
      ManifestTable.commit(spark, dir, Seq((1L, "a")).toDF("id", "v"))
      val name = new String(
        java.nio.file.Files.readAllBytes(new java.io.File(dir, "CURRENT").toPath)).trim
      val mf = new java.io.File(new java.io.File(dir, "_manifests"), name)
      val src = scala.io.Source.fromFile(mf)
      val lines = try src.getLines().toList finally src.close()
      java.nio.file.Files.write(mf.toPath,
        lines.filterNot(_.startsWith("#schema=")).mkString("\n").getBytes)
      new java.io.File(mf.getParentFile, s".${mf.getName}.crc").delete()
      val e = intercept[IllegalStateException](ManifestTable.read(spark, dir))
      e.getMessage should include(dir)
      e.getMessage should include("#schema")
    } finally rm(dir)
  }
}
