package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.TxLog

/** The transactional table format: atomic commits, snapshot isolation,
  * time travel, stats-pruned MERGE, concurrency, crash safety, vacuum. */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("txlog").toString + "/tbl"

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag)).toDF("id", "v")

  test("append + read: versions accumulate, time travel reproduces " +
    "every committed snapshot") {
    val root = freshRoot()
    assert(TxLog.append(spark, root, rows(0 until 100, "a"), "id") === 1L)
    assert(TxLog.append(spark, root, rows(100 until 150, "b"), "id") === 2L)
    assert(TxLog.currentVersion(spark, root) === 2L)
    assert(TxLog.read(spark, root).count() === 150)
    // time travel: v1 is immutable
    assert(TxLog.read(spark, root, version = Some(1L)).count() === 100)
    assert(TxLog.read(spark, root, Some(1L))
      .agg(max("id")).as[Long].head() === 99L)
  }

  test("merge rewrites ONLY key-range-overlapping files; disjoint files " +
    "are carried into the new version byte-identical") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 100, "old"), "id")
    TxLog.append(spark, root, rows(1000 until 1100, "old"), "id")
    val before = TxLog.snapshot(spark, root)
    val lowFiles = before.files.filter(_.maxKey < 1000).map(_.path).toSet
    assert(lowFiles.nonEmpty)
    // batch hits only the high range
    TxLog.merge(spark, root, rows(1050 until 1150, "new"), "id")
    val after = TxLog.snapshot(spark, root)
    // every low-range file survives with the same path (not rewritten)
    assert(lowFiles.subsetOf(after.files.map(_.path).toSet))
    // and the merge is a correct upsert: no duplicate keys, incoming won
    val df = TxLog.read(spark, root)
    assert(df.count() === 100 + 150)
    assert(df.groupBy("id").count().filter(col("count") > 1).count() === 0)
    val tags = df.filter(col("id") >= 1050 && col("id") < 1100)
      .select("v").distinct().as[String].collect().toSeq
    assert(tags === Seq("new"))
    assert(df.filter(col("id") < 100 && col("v") =!= "old").count() === 0)
  }

  test("Merge.upsertTransactional (the S8 production interface): " +
    "plain-upsert semantics, and key-range-disjoint files survive " +
    "BYTE-identical — same path, same length, same content hash") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 100, "old"), "id")
    TxLog.append(spark, root, rows(1000 until 1100, "old"), "id")
    def digest(rel: String): String = {
      val bytes = Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/$rel"))
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
    }
    val before = TxLog.snapshot(spark, root)
    val low = before.files.filter(_.maxKey < 1000).map(_.path)
    assert(low.nonEmpty)
    val lowBytes = low.map(p => p -> (Files.size(
      java.nio.file.Paths.get(s"$root/$p")), digest(p))).toMap
    // the interface under test: same call shape a Delta MERGE INTO user
    // would migrate to, returning the committed post-merge read
    val result = graft.engine.Merge.upsertTransactional(
      spark, root, rows(1050 until 1150, "new"), "id")
    // upsert semantics match the plain-DataFrame Merge.upsert exactly
    assert(result.count() === 100 + 150)
    assert(result.groupBy("id").count()
      .filter(col("count") > 1).count() === 0)
    assert(result.filter(col("id") >= 1050 && col("v") =!= "new")
      .count() === 0)
    assert(result.filter(col("id") < 100 && col("v") =!= "old")
      .count() === 0)
    // untouched files: carried forward in the manifest AND physically
    // byte-identical (no silent rewrite under the same name)
    val after = TxLog.snapshot(spark, root)
    assert(low.toSet.subsetOf(after.files.map(_.path).toSet))
    for (p <- low) {
      val (sz, dg) = lowBytes(p)
      assert(Files.size(java.nio.file.Paths.get(s"$root/$p")) === sz,
        s"$p length changed")
      assert(digest(p) === dg, s"$p bytes changed")
    }
  }

  test("merge into an empty table is the initial load; an empty batch " +
    "is a no-op commit-wise") {
    val root = freshRoot()
    assert(TxLog.merge(spark, root, rows(0 until 10, "x"), "id") === 1L)
    assert(TxLog.read(spark, root).count() === 10)
    assert(TxLog.merge(spark, root, rows(0 until 0, "y"), "id") === 1L)
    assert(TxLog.currentVersion(spark, root) === 1L)
  }

  test("crash before the manifest commit: orphan data files are " +
    "invisible to readers and swept by vacuum") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 50, "a"), "id")
    // simulate a writer that died after writing data, before committing:
    // drop an unreferenced parquet straight into data/
    rows(900 until 950, "ghost").coalesce(1)
      .write.parquet(s"$root/data/orphan-stage")
    val orphan = new java.io.File(s"$root/data/orphan-stage")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = new java.io.File(s"$root/data/orphan.parquet")
    assert(orphan.renameTo(dest))
    assert(TxLog.read(spark, root).count() === 50) // still the old snapshot
    // default grace window: a FRESH unreferenced file is indistinguishable
    // from an in-flight commit's data, so vacuum must leave it alone
    TxLog.vacuum(spark, root, keepVersions = 1)
    assert(dest.exists())
    // no concurrent writers (graceMs = 0): the orphan is swept
    TxLog.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(!dest.exists()) // orphan swept
    assert(TxLog.read(spark, root).count() === 50)
  }

  test("optimistic concurrency: a committed rival version makes the " +
    "append retry on top of it — both writers' rows land") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 10, "a"), "id")
    // simulate a rival writer that committed version 2 first: clone v1's
    // manifest (same files) as v2 via the public snapshot + raw format
    val snap = TxLog.snapshot(spark, root)
    val body = (Seq("graft-txlog v1", "2") ++ snap.files.map(f =>
      s"${f.path}\t${f.rows}\t${f.minKey}\t${f.maxKey}")).mkString("\n")
    Files.write(java.nio.file.Paths.get(
      s"$root/_txlog/${"%020d".format(2)}.manifest"), body.getBytes("UTF-8"))
    // this append targets v2, loses the CAS, retries, lands at v3
    assert(TxLog.append(spark, root, rows(10 until 20, "b"), "id") === 3L)
    assert(TxLog.read(spark, root).count() === 20)
  }

  test("vacuum keeps the retained window readable and drops older " +
    "versions' exclusive files and manifests") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 30, "a"), "id")
    val v1Files = TxLog.snapshot(spark, root).files.map(_.path)
    TxLog.overwrite(spark, root, rows(0 until 5, "b"), "id")
    // pre-vacuum: time travel to v1 still works
    assert(TxLog.read(spark, root, Some(1L)).count() === 30)
    TxLog.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(TxLog.read(spark, root).count() === 5)
    // v1's files are gone from disk, and so is its manifest
    v1Files.foreach(p => assert(!new java.io.File(s"$root/$p").exists(), p))
    assert(!new java.io.File(
      s"$root/_txlog/${"%020d".format(1)}.manifest").exists())
    intercept[IllegalArgumentException] {
      TxLog.read(spark, root, Some(1L))
    }
  }

  test("streaming sink: foreachBatch + TxLog.merge gives a " +
    "transactional, idempotent-per-key micro-batch warehouse") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 100, "seed"), "id")
    val ms = MemoryStream[(Long, String)]
    ms.addData((50L, "upd1"), (51L, "upd1"))
    ms.addData((52L, "upd2"), (200L, "ins"))
    val q = ms.toDF.toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TxLog.merge(spark, root, batch, "id"); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val df = TxLog.read(spark, root)
    assert(df.count() === 101) // 100 seed + 1 true insert
    assert(df.groupBy("id").count().filter(col("count") > 1).count() === 0)
    assert(df.filter(col("id") === 52L).select("v").as[String].head()
      === "upd2")
    // each micro-batch was one atomic commit
    assert(TxLog.currentVersion(spark, root) >= 2L)
  }

  test("merge pruning bound: with sequence-correlated keys the touched " +
    "read set is a small fraction of the table's files") {
    val root = freshRoot()
    // 10 appends of disjoint 100-key ranges → >= 10 disjoint files
    (0 until 10).foreach(i =>
      TxLog.append(spark, root,
        rows(i * 100 until (i + 1) * 100, s"t$i").repartition(2), "id"))
    val before = TxLog.snapshot(spark, root)
    TxLog.merge(spark, root, rows(350 until 370, "upd"), "id")
    val after = TxLog.snapshot(spark, root)
    val survivors = before.files.map(_.path).toSet
      .intersect(after.files.map(_.path).toSet)
    // only the range-overlapping files (range 300-399's) were rewritten
    val rewritten = before.files.map(_.path).toSet -- survivors
    assert(rewritten.nonEmpty &&
      rewritten.size <= before.files.size / 5,
      s"${rewritten.size}/${before.files.size} files rewritten")
    assert(TxLog.read(spark, root).count() === 1000)
  }

  test("compact bin-packs small files into tight key ranges, preserves " +
    "content and time travel, and restores merge pruning") {
    val root = freshRoot()
    // 10 micro-batches of 50 rows, 2 files each → 20 small files
    (0 until 10).foreach(i =>
      TxLog.append(spark, root,
        rows(i * 50 until (i + 1) * 50, s"t$i").repartition(2), "id"))
    val before = TxLog.snapshot(spark, root)
    assert(before.files.size >= 20)
    val wantRows = TxLog.read(spark, root)
      .as[(Long, String)].collect().toSet
    val v = TxLog.compact(spark, root, "id",
      smallRows = 1000L, targetRows = 250L)
    val after = TxLog.snapshot(spark, root)
    assert(v === before.version + 1)
    assert(after.files.size < before.files.size / 4,
      s"${after.files.size} files after compaction")
    // content identical, old version still readable
    assert(TxLog.read(spark, root).as[(Long, String)].collect().toSet
      === wantRows)
    assert(TxLog.read(spark, root, Some(before.version)).count() === 500)
    // range partitioning ⇒ file key ranges are (near-)disjoint, so a
    // narrow merge touches few files again
    val b4 = TxLog.snapshot(spark, root)
    TxLog.merge(spark, root, rows(10 until 20, "upd"), "id")
    val rewritten = b4.files.map(_.path).toSet --
      TxLog.snapshot(spark, root).files.map(_.path).toSet
    assert(rewritten.size <= 1, s"${rewritten.size} files rewritten")
    // compacting an already-compact table is a no-op (no version bump)
    assert(TxLog.compact(spark, root, "id", smallRows = 1L) ===
      TxLog.currentVersion(spark, root))
  }

  test("predicate delete rewrites only files containing matches, " +
    "empty files drop out, no-match is a no-op, time travel keeps " +
    "deleted rows") {
    val root = freshRoot()
    // two appends with disjoint key ranges → file sets per range
    TxLog.append(spark, root, rows(0 until 100, "lo").repartition(2), "id")
    TxLog.append(spark, root, rows(100 until 200, "hi").repartition(2), "id")
    val before = TxLog.snapshot(spark, root)
    // delete a slice that lives only in the 'hi' files
    val v = TxLog.delete(spark, root, "id",
      col("id") >= 150L && col("id") < 160L)
    assert(v === 3L)
    val after = TxLog.snapshot(spark, root)
    assert(TxLog.read(spark, root).count() === 190)
    assert(TxLog.read(spark, root)
      .filter(col("id") === 155L).count() === 0)
    // the 'lo' files were not rewritten (identity preserved)
    val loBefore = before.files.filter(_.maxKey < 100).map(_.path).toSet
    assert(loBefore.nonEmpty &&
      loBefore.subsetOf(after.files.map(_.path).toSet))
    // time travel still sees the deleted rows
    assert(TxLog.read(spark, root, Some(2L)).count() === 200)
    // no-match delete: version unchanged
    assert(TxLog.delete(spark, root, "id", col("id") === 9999L) === 3L)
    // delete EVERYTHING: table empties, files drop out of the manifest
    assert(TxLog.delete(spark, root, "id", lit(true)) === 4L)
    assert(TxLog.snapshot(spark, root).files.isEmpty)
    assert(TxLog.read(spark, root,
      schemaFrom = Some(rows(0 until 1, "s"))).count() === 0)
  }

  test("additive schema evolution: a merge batch adds a column, old " +
    "files read it as null, updates land, time travel keeps the old " +
    "schema") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 100, "a"), "id")
    // v2: a batch carrying a NEW column — updates 40-49, inserts 100-109
    val evolved = (40 until 110).map(i =>
      (i.toLong, s"new$i", i * 1.5)).toDF("id", "v", "score")
    TxLog.merge(spark, root, evolved, "id")
    val cur = TxLog.read(spark, root)
    assert(cur.columns.toSeq.sorted === Seq("id", "score", "v"))
    assert(cur.count() === 110)
    // untouched old rows read score as null; merged rows carry it
    assert(cur.filter(col("score").isNull).count() > 0)
    assert(cur.filter(col("id") === 45L)
      .select("v", "score").as[(String, Option[Double])].head()
      === (("new45", Some(67.5))))
    assert(cur.filter(col("id") === 105L).count() === 1)
    // a pre-evolution row that was NOT rewritten
    val untouchedOld = cur.filter(col("id") === 0L)
      .select("v", "score").as[(String, Option[Double])].head()
    assert(untouchedOld === (("a", None)))
    // time travel: v1 predates the column entirely
    assert(TxLog.read(spark, root, Some(1L)).columns.toSeq.sorted
      === Seq("id", "v"))
    // a LEGACY-schema batch into the evolved table still merges (its
    // rows read the new column as null)
    TxLog.merge(spark, root, rows(200 until 205, "late"), "id")
    val after = TxLog.read(spark, root)
    assert(after.count() === 115)
    assert(after.filter(col("id") === 200L)
      .select("score").as[Option[Double]].head() === None)
  }

  test("delete on an evolved nullable column keeps NULL-evaluating " +
    "legacy rows (SQL DELETE removes only predicate-TRUE rows)") {
    val root = freshRoot()
    // v1: legacy schema (no score column) — these rows will read score
    // as NULL once the schema evolves
    TxLog.append(spark, root, rows(0 until 50, "legacy"), "id")
    // v2: evolved batch ADDS score, overlapping the legacy key range so
    // legacy rows are co-located in rewritten files with scored rows
    val evolved = (25 until 75).map(i =>
      (i.toLong, s"new$i", i.toDouble)).toDF("id", "v", "score")
    TxLog.merge(spark, root, evolved, "id")
    assert(TxLog.read(spark, root).count() === 75)
    // delete WHERE score < 40: matches scored rows 25-39 ONLY. Legacy
    // rows 0-24 evaluate the predicate to NULL — they must SURVIVE even
    // though they share files with matching rows.
    TxLog.delete(spark, root, "id", col("score") < 40.0)
    val cur = TxLog.read(spark, root)
    assert(cur.count() === 60, s"got ${cur.count()}") // 75 - 15 deleted
    assert(cur.filter(col("id") < 25).count() === 25) // NULL rows intact
    assert(cur.filter(col("score") < 40.0).count() === 0)
    assert(cur.filter(col("id") === 10L)
      .select("v").as[String].head() === "legacy")
  }

  test("compaction across a schema-evolution boundary preserves " +
    "later-added column values (mergeSchema read)") {
    val root = freshRoot()
    // small files on BOTH sides of the evolution boundary
    TxLog.append(spark, root, rows(0 until 20, "old"), "id")
    val evolved = (100 until 120).map(i =>
      (i.toLong, s"new$i", i * 2.0)).toDF("id", "v", "score")
    TxLog.append(spark, root, evolved, "id")
    val want = TxLog.read(spark, root)
      .select("id", "v", "score")
      .as[(Long, String, Option[Double])].collect().toSet
    val v = TxLog.compact(spark, root, "id",
      smallRows = 1000L, targetRows = 40L)
    assert(v === 3L)
    val got = TxLog.read(spark, root)
    assert(got.columns.toSeq.sorted === Seq("id", "score", "v"))
    assert(got.select("id", "v", "score")
      .as[(Long, String, Option[Double])].collect().toSet === want)
    // the evolved values specifically survived the rewrite
    assert(got.filter(col("id") === 110L)
      .select("score").as[Option[Double]].head() === Some(220.0))
  }

  test("partitioned merge: files prune by (partition, key-range), all " +
    "touched partitions commit in ONE manifest, (partition, key) is the " +
    "row identity, epochs replay-skip, readPartitions prunes from the " +
    "manifest") {
    val root = freshRoot()
    def part(ids: Range, p: String, tag: String) =
      ids.map(i => (i.toLong, p, tag)).toDF("id", "pc", "v")
    val v1 = TxLog.mergePartitioned(spark, root,
      part(0 until 50, "a", "t0")
        .union(part(0 until 50, "b", "t0"))
        .union(part(0 until 50, "c", "t0")), "id", "pc")
    assert(v1 === 1L)
    val before = TxLog.snapshot(spark, root)
    assert(before.files.forall(_.part.isDefined))
    val cFiles = before.files.filter(_.part.contains("c")).map(_.path).toSet
    val bFiles = before.files.filter(_.part.contains("b")).map(_.path).toSet
    assert(cFiles.nonEmpty && bFiles.nonEmpty)
    // the batch updates keys 10-19 in partition a and appends keys
    // 100-109 to partition b (no key overlap with b's existing files)
    val batch = part(10 until 20, "a", "t1")
      .union(part(100 until 110, "b", "t1"))
    val v2 = TxLog.mergeEpochPartitioned(spark, root, batch, "id", "pc", 7L)
    val after = TxLog.snapshot(spark, root)
    // partition c: not in the batch — every file carried by path
    assert(cFiles.subsetOf(after.files.map(_.path).toSet))
    // partition b: in the batch but key-disjoint — old files also carried
    assert(bFiles.subsetOf(after.files.map(_.path).toSet))
    val df = TxLog.read(spark, root)
    assert(df.count() === 160)
    assert(df.filter(col("pc") === "a" && col("v") === "t1").count() === 10)
    // (partition, key) identity: no dup within a partition; the same id
    // in different partitions is three distinct rows
    assert(df.groupBy("pc", "id").count()
      .filter(col("count") > 1).count() === 0)
    assert(df.filter(col("id") === 10L).count() === 3)
    // epoch replay: detected from the log, no version bump
    assert(TxLog.mergeEpochPartitioned(spark, root, batch, "id", "pc", 7L)
      === v2)
    assert(TxLog.currentVersion(spark, root) === v2)
    assert(TxLog.lastEpoch(spark, root) === Some(7L))
    // manifest-served partition pruning
    val pb = TxLog.readPartitions(spark, root, Set("b"))
    assert(pb.count() === 60)
    assert(pb.select("pc").distinct().as[String].collect().toSeq === Seq("b"))
  }

  test("partitioned merge rejects a batch with a null partition value " +
    "and leaves the table version unchanged") {
    val root = freshRoot()
    val base = Seq((1L, "a", "t0"), (2L, "b", "t0")).toDF("id", "pc", "v")
    assert(TxLog.mergePartitioned(spark, root, base, "id", "pc") === 1L)
    val batch = Seq((3L, None: Option[String], "t1"), (4L, Some("a"), "t1"))
      .toDF("id", "pc", "v")
    val e = intercept[IllegalArgumentException](
      TxLog.mergePartitioned(spark, root, batch, "id", "pc"))
    assert(e.getMessage.contains("null pc"))
    assert(TxLog.currentVersion(spark, root) === 1L)
    assert(TxLog.read(spark, root).select("id", "pc", "v")
      .as[(Long, String, String)].collect()
      .toSet === Set((1L, "a", "t0"), (2L, "b", "t0")))
  }

  test("LogStore seam: the DML cycle runs identically under LocalLink " +
    "and AtomicRename, the provider is pluggable, and LocalLink's CAS " +
    "refuses an existing destination") {
    import graft.engine.LogStore
    val prev = TxLog.logStoreProvider
    try {
      for (ls <- Seq(LogStore.LocalLink, LogStore.AtomicRename)) {
        TxLog.logStoreProvider = _ => ls
        val root = freshRoot()
        assert(TxLog.append(spark, root, rows(0 until 50, "a"), "id") === 1L)
        assert(TxLog.merge(spark, root, rows(25 until 75, "b"), "id") === 2L)
        assert(TxLog.delete(spark, root, "id", col("id") < 10) === 3L)
        val df = TxLog.read(spark, root)
        assert(df.count() === 65, s"under $ls")
        assert(df.filter(col("id") >= 25).select("v").distinct()
          .as[String].collect().toSeq === Seq("b"), s"under $ls")
      }
    } finally TxLog.logStoreProvider = prev
    // interface-level exclusivity: with dest already present, LocalLink
    // loses the CAS and consumes its temp file. (AtomicRename's refusal
    // is an HDFS-namespace guarantee — POSIX renameTo overwrites, which
    // is exactly why LocalLink exists — so it is not asserted on local.)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRawFileSystem
    val dir = new org.apache.hadoop.fs.Path(freshRoot())
    fs.mkdirs(dir)
    val dest = new org.apache.hadoop.fs.Path(dir, "m.manifest")
    val tmp = new org.apache.hadoop.fs.Path(dir, ".tmp-x")
    for (p <- Seq(dest, tmp)) {
      val o = fs.create(p, false); o.write(42); o.close()
    }
    assert(!LogStore.LocalLink.commitExclusive(fs, tmp, dest))
    assert(!fs.exists(tmp) && fs.exists(dest))
  }

  test("commit-CAS race contract: N concurrent committers of the SAME " +
    "version against ALL THREE LogStores — exactly one wins, the " +
    "published manifest is the winner's COMPLETE content, every temp " +
    "is consumed") {
    import graft.engine.LogStore
    import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
    // AtomicRename's refusal of an existing destination is an HDFS
    // NAMESPACE guarantee; POSIX renameTo overwrites. To race the impl
    // against the contract it was written for, wrap the local fs with
    // an HDFS-like rename (atomic refuse-if-exists under a lock) — the
    // LogStore logic is what's under test, not the kernel.
    class HdfsLikeFs extends RawLocalFileSystem {
      private val nsLock = new Object
      override def rename(src: HPath, dst: HPath): Boolean =
        nsLock.synchronized {
          if (exists(dst)) false else super.rename(src, dst)
        }
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val plainFs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
      .getRawFileSystem
    val hdfsLike = new HdfsLikeFs
    hdfsLike.initialize(java.net.URI.create("file:///"), conf)
    val cases: Seq[(LogStore, org.apache.hadoop.fs.FileSystem)] = Seq(
      LogStore.LocalLink -> plainFs,
      LogStore.AtomicRename -> hdfsLike,
      LogStore.ConditionalPut -> plainFs)
    for (((ls, fs), ci) <- cases.zipWithIndex; round <- 1 to 4) {
      val dir = new HPath(freshRoot()); fs.mkdirs(dir)
      val dest = new HPath(dir, "00000000000000000001.manifest")
      val n = 16
      val tmps = (0 until n).map { i =>
        val t = new HPath(dir, s".tmp-$i")
        val o = fs.create(t, false)
        o.write(s"writer-$i-payload".getBytes("UTF-8")); o.close(); t
      }
      val barrier = new java.util.concurrent.CyclicBarrier(n)
      val won = java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]())
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until n).map { i =>
        new Thread(() => {
          try {
            barrier.await()
            if (ls.commitExclusive(fs, tmps(i), dest)) won.add(i)
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"case $ci round $round: $errs")
      assert(won.size === 1, s"case $ci round $round: winners=$won")
      val in = fs.open(dest)
      val content = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      in.close()
      val w = won.iterator().next()
      assert(content === s"writer-$w-payload",
        s"case $ci round $round: reader saw partial/foreign content")
      tmps.foreach(t => assert(!fs.exists(t),
        s"case $ci round $round: temp $t not consumed"))
    }
    // end-to-end under ConditionalPut: the DML cycle commits through
    // claim+move and reads back exactly like the other stores
    val prev = TxLog.logStoreProvider
    try {
      TxLog.logStoreProvider = _ => LogStore.ConditionalPut
      val root = freshRoot()
      assert(TxLog.append(spark, root, rows(0 until 50, "a"), "id") === 1L)
      assert(TxLog.merge(spark, root, rows(25 until 75, "b"), "id") === 2L)
      assert(TxLog.delete(spark, root, "id", col("id") < 10) === 3L)
      assert(TxLog.read(spark, root).count() === 65)
    } finally TxLog.logStoreProvider = prev
  }

  test("renameColumn is metadata-only: same data files, new logical " +
    "name, time travel shows the old name, stale batches rejected") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 100, "a"), "id")
    val filesBefore = TxLog.snapshot(spark, root).files.map(_.path).toSet
    assert(TxLog.renameColumn(spark, root, "v", "tag") === 2L)
    // no data file was touched
    assert(TxLog.snapshot(spark, root).files.map(_.path).toSet
      === filesBefore)
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "tag"))
    assert(TxLog.read(spark, root).filter(col("tag") === "a").count()
      === 100)
    // time travel: the pre-rename version still reads the old name
    assert(TxLog.read(spark, root, Some(1L)).columns.toSeq
      === Seq("id", "v"))
    // a batch still writing the OLD name is a schema conflict, not a
    // silently re-added column
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.merge(spark, root, rows(50 until 60, "x"), "id")
    }
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.append(spark, root, rows(200 until 210, "x"), "id")
    }
    // a batch using the new name merges fine; rewritten files still
    // STORE the original physical name (mapping applies on read)
    TxLog.merge(spark, root,
      Seq((50L, "new")).toDF("id", "tag"), "id")
    val df = TxLog.read(spark, root)
    assert(df.filter(col("id") === 50L).select("tag")
      .as[String].head() === "new")
    assert(df.count() === 100)
    val newFile = TxLog.snapshot(spark, root).files
      .map(_.path).toSet.diff(filesBefore).head
    assert(spark.read.parquet(s"$root/$newFile").columns.toSeq
      === Seq("id", "v")) // physical name unchanged on disk
    // rename back to the original clears the mapping; the interim name
    // is retired
    TxLog.renameColumn(spark, root, "tag", "v")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "v"))
    assert(TxLog.snapshot(spark, root).renames.isEmpty)
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.merge(spark, root, Seq((1L, "y")).toDF("id", "tag"), "id")
    }
    // fresh-target validation: renaming onto a live column fails
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, root, "v", "id")
    }
  }

  test("dropColumn projects immediately, purges lazily on rewrite, and " +
    "retires the name") {
    val root = freshRoot()
    val wide = (0 until 100).map(i => (i.toLong, s"v$i", i * 2))
      .toDF("id", "v", "extra")
    TxLog.append(spark, root, wide, "id")
    TxLog.dropColumn(spark, root, "extra")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "v"))
    // time travel still sees the column
    assert(TxLog.read(spark, root, Some(1L)).columns.toSeq
      === Seq("id", "v", "extra"))
    // re-introducing the dropped name is a conflict (old files still
    // hold its data — a "new" column would resurrect it)
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.append(spark, root,
        Seq((200L, "x", 9)).toDF("id", "v", "extra"), "id")
    }
    // a merge rewrite physically purges the dropped column
    val before = TxLog.snapshot(spark, root).files.map(_.path).toSet
    TxLog.merge(spark, root, Seq((5L, "nv")).toDF("id", "v"), "id")
    val rewritten = TxLog.snapshot(spark, root).files
      .map(_.path).toSet.diff(before)
    assert(rewritten.nonEmpty)
    rewritten.foreach { p =>
      assert(!spark.read.parquet(s"$root/$p").columns.contains("extra"))
    }
    assert(TxLog.read(spark, root).filter(col("id") === 5L)
      .select("v").as[String].head() === "nv")
  }

  test("rename composes with drop, delete, and compact; mapping " +
    "survives unrelated commits") {
    val root = freshRoot()
    TxLog.append(spark, root, rows(0 until 50, "a"), "id")
    TxLog.renameColumn(spark, root, "v", "tag")
    // an unrelated append carries the mapping forward
    TxLog.append(spark, root, Seq((100L, "b")).toDF("id", "tag"), "id")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id", "tag"))
    assert(TxLog.read(spark, root).count() === 51)
    // the appended file stored the physical name
    assert(TxLog.snapshot(spark, root).renames === Seq(("v", "tag")))
    // DELETE with a predicate on the LOGICAL name
    TxLog.delete(spark, root, "id", col("tag") === "b")
    assert(TxLog.read(spark, root).count() === 50)
    assert(TxLog.read(spark, root).filter(col("tag") === "b").count()
      === 0)
    // compact across the mapping: content-preserving in the logical view
    val beforeCompact = TxLog.read(spark, root)
      .orderBy("id").as[(Long, String)].collect().toSeq
    TxLog.compact(spark, root, "id", smallRows = 1000L,
      targetRows = 1000L)
    assert(TxLog.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq === beforeCompact)
    // drop by the NEW name retires both names
    TxLog.dropColumn(spark, root, "tag")
    assert(TxLog.read(spark, root).columns.toSeq === Seq("id"))
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.append(spark, root, Seq((7L, "z")).toDF("id", "v"), "id")
    }
    intercept[graft.engine.TxSchemaConflictException] {
      TxLog.append(spark, root, Seq((7L, "z")).toDF("id", "tag"), "id")
    }
    // key-only appends still work
    TxLog.append(spark, root, Seq(Tuple1(500L)).toDF("id"), "id")
    assert(TxLog.read(spark, root).count() === 51)
  }
}
