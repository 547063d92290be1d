package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.expr._
import graft.core.meta._
import graft.core.transform._
import graft.core.types._

/** Commit-protocol + scan-planning tests over a temp-dir catalog
  * (mirrors reference TestFastAppend / TestBatchScans shapes). */
class MetaSpec extends AnyFunSuite {

  private val schema = GSchema(GStruct(Seq(
    GField(1, "id", GLong, required = true),
    GField(2, "data", GString),
    GField(3, "ts", GTimestamp()))))

  private def tempCatalog(): HadoopCatalog =
    new HadoopCatalog(Files.createTempDirectory("graft-test").toString)

  private def dataFile(path: String, partition: Seq[Any], ids: (Long, Long),
      specId: Int = 0): DataFile =
    DataFile(path, "parquet", specId, partition, recordCount = ids._2 - ids._1 + 1,
      fileSizeBytes = 1000,
      columnStats = Map(1 -> ColStats(Some(ids._2 - ids._1 + 1), Some(0L), None,
        Some(ids._1), Some(ids._2))))

  test("create, append, read back, metadata round-trip") {
    val cat = tempCatalog()
    val spec = PartitionSpec.of(schema, "ts" -> DayT)
    val t = cat.createTable(Seq("db"), "t1", schema, spec)
    assert(cat.tableExists(Seq("db"), "t1"))
    assert(cat.listTables(Seq("db")) === Seq("t1"))

    t.newAppend()
      .appendFile(dataFile("f1.parquet", Seq(100), (1L, 10L)))
      .appendFile(dataFile("f2.parquet", Seq(101), (11L, 20L)))
      .commit()
    val m = t.refresh()
    assert(m.currentSnapshot.map(_.operation) === Some("append"))
    assert(m.lastSequenceNumber === 1L)
    // reference SnapshotSummary total-* metrics, exact from the list
    val sum = m.currentSnapshot.get.summary
    assert(sum("total-data-files") === "2")
    assert(sum("total-records") === "20")
    assert(sum("total-delete-files") === "0")
    val tasks = t.newScan().planFiles()
    // entry paths store relative (v4 relative locations) and resolve
    // against the table location on read
    assert(tasks.map(_.file.path).toSet ===
      Set(s"${t.location}/f1.parquet", s"${t.location}/f2.parquet"))
    // JSON round-trip fidelity
    val rt = MetaJson.readMetadata(MetaJson.writeMetadata(m))
    assert(rt === m)
  }

  test("delete index prunes position deletes by file_path bounds") {
    import graft.core.meta.{DeleteFileIndex, ManifestEntry, ManifestEntryStatus, FileContent}
    def del(lo: String, hi: String): ManifestEntry = ManifestEntry(
      ManifestEntryStatus.Added, 1L, 5L,
      DataFile("d1.parquet", "parquet", 0, Seq(7), 2L, 100L,
        Map(DeleteFileIndex.FilePathFieldId -> ColStats(
          Some(2L), Some(0L), None, Some(lo), Some(hi))),
        content = FileContent.PositionDeletes))
    val covered = DataFile("/wh/t/data/b.parquet", "parquet", 0, Seq(7), 10, 100)
    val outside = DataFile("/wh/t/data/z.parquet", "parquet", 0, Seq(7), 10, 100)
    val idx = new DeleteFileIndex(Seq(del("/data/a.parquet", "/data/c.parquet")))
    assert(idx.forDataFile(1L, covered).size === 1)
    assert(idx.forDataFile(1L, outside).isEmpty)
    // bounds-less delete files still attach to everything (older writers)
    val noBounds = new DeleteFileIndex(Seq(del("x", "y").copy(file =
      del("x", "y").file.copy(columnStats = Map.empty))))
    assert(noBounds.forDataFile(1L, outside).size === 1)
  }

  test("delete index prunes equality deletes by key-range overlap") {
    import graft.core.meta.{DeleteFileIndex, ManifestEntry, ManifestEntryStatus, FileContent}
    def eqDel(lo: Long, hi: Long, nulls: Long = 0): ManifestEntry = ManifestEntry(
      ManifestEntryStatus.Added, 1L, 5L,
      DataFile("e1.parquet", "parquet", 0, Nil, 2L, 100L,
        Map(1 -> ColStats(Some(2L), Some(nulls), None, Some(lo), Some(hi))),
        content = FileContent.EqualityDeletes, equalityIds = Seq(1)))
    def data(lo: Long, hi: Long, nulls: Long = 0): DataFile =
      DataFile("d.parquet", "parquet", 0, Nil, 10, 100,
        Map(1 -> ColStats(Some(10L), Some(nulls), None, Some(lo), Some(hi))))
    val idx = new DeleteFileIndex(Seq(eqDel(100L, 200L)), schema)
    assert(idx.forDataFile(1L, data(150L, 300L)).size === 1) // overlap
    assert(idx.forDataFile(1L, data(250L, 300L)).isEmpty)    // disjoint
    assert(idx.forDataFile(1L, data(1L, 50L)).isEmpty)       // disjoint below
    // possible nulls on both sides make ranges inconclusive — keep
    val nullIdx = new DeleteFileIndex(Seq(eqDel(100L, 200L, nulls = 1)), schema)
    assert(nullIdx.forDataFile(1L, data(250L, 300L, nulls = 1)).size === 1)
    // UNKNOWN null count may hide nulls — pruning needs a proven zero
    val unknown = DataFile("d.parquet", "parquet", 0, Nil, 10, 100,
      Map(1 -> ColStats(Some(10L), None, None, Some(250L), Some(300L))))
    assert(nullIdx.forDataFile(1L, unknown).size === 1)
    // no schema (executor-shipped legacy) or no bounds: keep
    assert(new DeleteFileIndex(Seq(eqDel(100L, 200L)))
      .forDataFile(1L, data(250L, 300L)).size === 1)
  }

  test("metadata-log: append, trim to previous-versions-max, delete-after-commit") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "ml", schema,
      PartitionSpec.Unpartitioned,
      Map("write.metadata.previous-versions-max" -> "2"))
    (1 to 4).foreach { i =>
      t.newAppend().appendFile(dataFile(s"f$i.parquet", Nil, (i * 10L, i * 10L + 5)))
        .commit()
    }
    // 5 commits total (create + 4 appends): log carries only the last 2
    // previous documents, oldest first, with became-current timestamps
    val m = t.refresh()
    assert(m.metadataLog.size === 2)
    assert(m.metadataLog.map(_._2).forall(_.contains(".metadata.json")))
    assert(m.metadataLog.last._2.contains("v4"))
    assert(m.metadataLog.map(_._1) === m.metadataLog.map(_._1).sorted)
    // without delete-after-commit the superseded files stay on disk
    val mdir = s"${t.location}/metadata"
    def versions = GraftIO.list(mdir).filter(_.endsWith(".metadata.json"))
      .map(p => p.split("/").last).sorted
    assert(versions === Seq("v1.metadata.json", "v2.metadata.json",
      "v3.metadata.json", "v4.metadata.json", "v5.metadata.json"))
    // enabling delete-after-commit removes files as they fall off the log
    t.updateProperties(Map("write.metadata.delete-after-commit.enabled" -> "true"))
    t.newAppend().appendFile(dataFile("f9.parquet", Nil, (90L, 95L))).commit()
    // the two delete-enabled commits (v6, v7) each removed the file that
    // fell off the log (v3, then v4); files orphaned back when deletion
    // was disabled stay put — remove_orphan_files territory, as in the
    // reference
    val after = versions
    assert(after.contains("v7.metadata.json"))
    assert(!after.contains("v3.metadata.json") && !after.contains("v4.metadata.json"))
    assert(after.contains("v1.metadata.json") && after.contains("v2.metadata.json"))
    // the CAS base (v6) and its predecessor (v5) are the retained log
    val m2 = t.refresh()
    assert(m2.metadataLog.map(_._2.split("/").last) ===
      Seq("v5.metadata.json", "v6.metadata.json"))
    // round-trip fidelity for the new field
    assert(MetaJson.readMetadata(MetaJson.writeMetadata(m2)) === m2)
  }

  test("partition + stats pruning with residuals") {
    val cat = tempCatalog()
    val spec = PartitionSpec.of(schema, "ts" -> DayT)
    val t = cat.createTable(Seq("db"), "t2", schema, spec)
    val day = 10000
    def tsOf(d: Int): Long = d.toLong * 86400000000L
    t.newAppend()
      .appendFile(dataFile("d0.parquet", Seq(day), (1L, 10L)))
      .appendFile(dataFile("d1.parquet", Seq(day + 1), (11L, 20L)))
      .appendFile(dataFile("d2.parquet", Seq(day + 2), (21L, 30L)))
      .commit()

    // hidden partitioning: filter on ts prunes by day partition
    val scan = t.newScan().filter(Expr.gtEq("ts", tsOf(day + 1) + 5L))
    val files = scan.planFiles()
    def name(p: String): String = p.split('/').last
    assert(files.map(f => name(f.file.path)).toSet === Set("d1.parquet", "d2.parquet"))
    // d1 is a boundary day → residual keeps predicate; d2 fully matches? no:
    // inclusive projection keeps day+1 (partial); strict Lt projection shows
    // day+2 fully matches only for Gt via strict Gt(day(X)) → day+2 > day+1 ✓
    val res = files.map(f => name(f.file.path) -> f.residual).toMap
    assert(res("d2.parquet") === TrueE)
    assert(res("d1.parquet") !== TrueE)

    // stats pruning on id bounds
    val byId = t.newScan().filter(Expr.equalTo("id", 25L)).planFiles()
    assert(byId.map(f => name(f.file.path)) === Seq("d2.parquet"))
  }

  test("overwrite: metadata-only delete and partial-match rejection") {
    val cat = tempCatalog()
    val spec = PartitionSpec.of(schema, "ts" -> DayT)
    val t = cat.createTable(Seq("db"), "t3", schema, spec)
    val day = 20000
    def tsOf(d: Int): Long = d.toLong * 86400000000L
    t.newAppend()
      .appendFile(dataFile("a.parquet", Seq(day), (1L, 10L)))
      .appendFile(dataFile("b.parquet", Seq(day + 1), (11L, 20L)))
      .commit()

    // whole-partition delete: strict projection proves it → metadata-only
    t.newOverwrite().overwriteByRowFilter(Expr.lt("ts", tsOf(day + 1))).commit()
    assert(t.newScan().planFiles().map(_.file.path) === Seq(s"${t.location}/b.parquet"))

    // mid-partition delete must be rejected (needs CoW rewrite)
    intercept[ValidationException] {
      t.newOverwrite().overwriteByRowFilter(Expr.lt("ts", tsOf(day + 1) + 7L)).commit()
    }

    // file replacement (CoW commit shape)
    t.newOverwrite().deleteFile(s"${t.location}/b.parquet")
      .addFile(dataFile("b2.parquet", Seq(day + 1), (11L, 19L))).commit()
    assert(t.newScan().planFiles().map(_.file.path)
      === Seq(s"${t.location}/b2.parquet"))
  }

  test("row delta conflict window: concurrent deletes and phantoms abort") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "tc", schema)
    t.newAppend().appendFile(dataFile("base.parquet", Nil, (1L, 100L))).commit()
    val scanned = t.meta.currentSnapshot.get.snapshotId

    // a concurrent writer masks rows in (1,100) with an equality delete
    val concDel = DataFile("conc-del.parquet", "parquet", 0, Nil, 1L, 50L,
      columnStats = Map(1 -> ColStats(Some(1L), Some(0L), None, Some(5L), Some(5L))),
      content = FileContent.EqualityDeletes, equalityIds = Seq(1))
    t.newRowDelta().addDeletes(concDel).commit()

    // our delta scanned BEFORE that commit with an overlapping filter:
    // lost update → abort (both isolation levels)
    val ours = DataFile("our-del.parquet", "parquet", 0, Nil, 1L, 50L,
      content = FileContent.EqualityDeletes, equalityIds = Seq(1))
    intercept[CommitConflictException] {
      t.newRowDelta().addDeletes(ours)
        .validateFromSnapshot(Some(scanned), Expr.equalTo("id", 5L),
          serializable = false).commit()
    }
    // non-overlapping filter commits fine (the concurrent delete's id
    // bounds [5,5] don't intersect id = 999)
    t.newRowDelta().addDeletes(ours)
      .validateFromSnapshot(Some(scanned), Expr.equalTo("id", 999L),
        serializable = false).commit()

    // phantoms: a concurrent APPEND matching the filter aborts only
    // under serializable
    val snap2 = t.meta.currentSnapshot.get.snapshotId
    t.newAppend().appendFile(dataFile("late.parquet", Nil, (200L, 210L))).commit()
    val more = DataFile("more-del.parquet", "parquet", 0, Nil, 1L, 50L,
      content = FileContent.EqualityDeletes, equalityIds = Seq(1))
    intercept[CommitConflictException] {
      t.newRowDelta().addDeletes(more)
        .validateFromSnapshot(Some(snap2), Expr.equalTo("id", 205L),
          serializable = true).commit()
    }
    t.newRowDelta().addDeletes(more)
      .validateFromSnapshot(Some(snap2), Expr.equalTo("id", 205L),
        serializable = false).commit()

    // rewrites (operation "replace": compaction) change no logical rows
    // and must NOT trip the window even under serializable
    val snap3 = t.meta.currentSnapshot.get.snapshotId
    val live = t.newScan().planFiles().map(_.file)
    t.newOverwrite().deleteFiles(live.map(_.path))
      .addFiles(Seq(dataFile("compacted.parquet", Nil, (1L, 210L))))
      .overrideOperation("replace").commit()
    assert(t.meta.currentSnapshot.get.operation === "replace")
    val last = DataFile("last-del.parquet", "parquet", 0, Nil, 1L, 50L,
      content = FileContent.EqualityDeletes, equalityIds = Seq(1))
    t.newRowDelta().addDeletes(last)
      .validateFromSnapshot(Some(snap3), Expr.equalTo("id", 100L),
        serializable = true).commit()
  }

  test("row delta: position deletes attach to matching partitions/seqs") {
    val cat = tempCatalog()
    val spec = PartitionSpec.of(schema, "ts" -> DayT)
    val t = cat.createTable(Seq("db"), "t4", schema, spec)
    val day = 15000
    t.newAppend().appendFile(dataFile("d.parquet", Seq(day), (1L, 10L))).commit()
    val del = DataFile("del.parquet", "parquet", 0, Seq(day), 2L, 100L,
      content = FileContent.PositionDeletes,
      referencedDataFile = Some(s"${t.location}/d.parquet"))
    t.newRowDelta().addDeletes(del).commit()

    val tasks = t.newScan().planFiles()
    assert(tasks.size === 1)
    assert(tasks.head.deletes.map(_.path) === Seq(s"${t.location}/del.parquet"))

    // a file appended after the delete does not see it
    t.newAppend().appendFile(dataFile("e.parquet", Seq(day), (11L, 20L))).commit()
    val t2 = t.newScan().planFiles().map(f => f.file.path -> f.deletes.size).toMap
    assert(t2(s"${t.location}/d.parquet") === 1)
    assert(t2(s"${t.location}/e.parquet") === 0)
  }

  test("time travel, branches, rollback") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "t5", schema)
    t.newAppend().appendFile(dataFile("s1.parquet", Nil, (1L, 10L))).commit()
    val snap1 = t.meta.currentSnapshot.get
    t.newAppend().appendFile(dataFile("s2.parquet", Nil, (11L, 20L))).commit()

    assert(t.newScan().planFiles().size === 2)
    assert(t.newScan().useSnapshot(snap1.snapshotId).planFiles().size === 1)
    assert(t.newScan().asOfTime(snap1.timestampMs).planFiles().size === 1)

    t.setRef("v1", snap1.snapshotId, SnapshotRefType.Tag)
    assert(t.newScan().useRef("v1").planFiles().size === 1)

    // branch write: append lands on branch, main unaffected
    t.setRef("dev", snap1.snapshotId, SnapshotRefType.Branch)
    t.newAppend().appendFile(dataFile("s3.parquet", Nil, (21L, 30L)))
      .toBranch("dev").commit()
    assert(t.newScan().planFiles().size === 2)
    assert(t.newScan().useRef("dev").planFiles().size === 2) // s1 + s3

    t.rollbackTo(snap1.snapshotId)
    assert(t.newScan().planFiles().size === 1)
  }

  test("optimistic concurrency: stale CAS fails then retries cleanly") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "t6", schema)
    // two handles to the same table
    val t2 = cat.loadTable(Seq("db"), "t6").get
    t.newAppend().appendFile(dataFile("x.parquet", Nil, (1L, 5L))).commit()
    // t2 has stale metadata; its producer must refresh + retry → both files live
    t2.newAppend().appendFile(dataFile("y.parquet", Nil, (6L, 9L))).commit()
    assert(t.newScan().planFiles().map(_.file.path).toSet ===
      Set(s"${t.location}/x.parquet", s"${t.location}/y.parquet"))
    // direct stale CAS at the ops layer must fail
    val ops = new FileTableOps(t.location)
    val stale = ops.current().get
    assert(!ops.commit(1, stale)) // v2 exists already
  }

  test("delta conflict validation catches concurrently deleted data files") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "tdel", schema)
    t.newAppend().appendFile(dataFile("a.parquet", Nil, (1L, 100L))).commit()
    t.newAppend().appendFile(dataFile("b.parquet", Nil, (200L, 300L))).commit()
    val scanned = t.meta.currentSnapshot.get.snapshotId

    // a concurrent whole-file DELETE commits with NO added files — only
    // the removal diff can reveal it
    t.newOverwrite().deleteFile(s"${t.location}/a.parquet").commit()

    // our delta scanned BEFORE that commit with a filter overlapping the
    // removed file's rows: committing replacement rows would resurrect
    // concurrently deleted data → lost update, abort (both levels)
    val del = DataFile("d1.parquet", "parquet", 0, Nil, 1L, 50L,
      content = FileContent.EqualityDeletes, equalityIds = Seq(1))
    intercept[CommitConflictException] {
      t.newRowDelta().addDeletes(del)
        .validateFromSnapshot(Some(scanned), Expr.equalTo("id", 50L),
          serializable = false).commit()
    }
    // a filter that can't touch the removed rows (id bounds [1,100])
    // commits fine — the check must not false-abort
    t.newRowDelta().addDeletes(del)
      .validateFromSnapshot(Some(scanned), Expr.equalTo("id", 250L),
        serializable = false).commit()
  }

  test("directory-catalog rename moves the table; relative paths re-root") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "rn1", schema)
    t.newAppend().appendFile(dataFile("f1.parquet", Nil, (1L, 10L))).commit()
    cat.renameTable(Seq("db"), "rn1", Seq("db"), "rn2")
    assert(!cat.tableExists(Seq("db"), "rn1"))
    val t2 = cat.loadTable(Seq("db"), "rn2").get
    // the relative data path resolves under the NEW location
    assert(t2.newScan().planFiles().map(_.file.path) ===
      Seq(s"${t2.location}/f1.parquet"))
    // and the renamed table accepts further commits
    t2.newAppend().appendFile(dataFile("f2.parquet", Nil, (11L, 20L))).commit()
    assert(t2.newScan().planFiles().size === 2)
    // missing source and occupied destination both refuse
    intercept[IllegalArgumentException](
      cat.renameTable(Seq("db"), "rn1", Seq("db"), "rn3"))
    cat.createTable(Seq("db"), "rn3", schema)
    intercept[IllegalStateException](
      cat.renameTable(Seq("db"), "rn2", Seq("db"), "rn3"))
    // a straggling writer that planned BEFORE the move must fail its CAS
    // against the old location — not resurrect it as a zombie directory
    // with a commit the renamed table never sees
    val oldLoc = cat.tableLocation(Seq("db"), "rn1")
    assert(!new FileTableOps(oldLoc).commit(1, t2.meta),
      "stale commit against a moved-away location must fail")
    assert(!GraftIO.exists(oldLoc), "failed stale commit must not recreate the dir")
  }

  test("transaction batches ops into one CAS, replays on conflict, all-or-nothing") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "tx1", schema)
    t.newAppend().appendFile(dataFile("seed.parquet", Nil, (1L, 10L))).commit()
    val v0 = new FileTableOps(t.location).currentVersion()

    // conflict replay: an intruder commits mid-transaction; the body
    // re-runs against the refreshed base and everything lands atomically
    var runs = 0
    val intruder = cat.loadTable(Seq("db"), "tx1").get
    t.transaction { tx =>
      runs += 1
      if (runs == 1) intruder.updateProperties(Map("intruder" -> "yes"))
      tx.updateProperties(Map("batched" -> "true"))
      tx.newAppend().appendFile(dataFile("txa.parquet", Nil, (11L, 20L))).commit()
      tx.newAppend().appendFile(dataFile("txb.parquet", Nil, (21L, 30L))).commit()
    }
    assert(runs === 2)
    val m = t.refresh()
    // the intruder's property survived (transaction rebased onto it) and
    // the batch is fully visible
    assert(m.properties.get("intruder").contains("yes"))
    assert(m.properties.get("batched").contains("true"))
    assert(t.newScan().planFiles().map(_.file.path).toSet ===
      Set(s"${t.location}/seed.parquet", s"${t.location}/txa.parquet",
        s"${t.location}/txb.parquet"))
    // whole batch = intruder commit + ONE transaction CAS
    assert(new FileTableOps(t.location).currentVersion() === v0 + 2)

    // all-or-nothing: a failing body publishes nothing
    intercept[RuntimeException] {
      t.transaction { tx =>
        tx.newAppend().appendFile(dataFile("orphan.parquet", Nil, (31L, 40L))).commit()
        throw new RuntimeException("boom")
      }
    }
    val after = t.refresh()
    assert(after.properties.get("batched").contains("true"))
    assert(!t.newScan().planFiles().map(_.file.path).exists(_.contains("orphan")))
    assert(new FileTableOps(t.location).currentVersion() === v0 + 2)
  }

  test("task group bin-packing") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "t7", schema)
    val files = (1 to 10).map(i => dataFile(s"f$i.parquet", Nil, (i * 10L, i * 10L + 9)))
    t.newAppend().appendFiles(files).commit()
    // 10 files x 1000 bytes, open-file cost 4MB → forced per-cost packing
    val groups = t.newScan().planTaskGroups(targetSize = 8L * 1024 * 1024,
      openFileCost = 4L * 1024 * 1024)
    assert(groups.map(_.size).sum === 10)
    assert(groups.forall(_.size <= 2))
  }

  test("transaction abort preserves the base table and external files") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "txa", schema)
    t.newAppend().appendFile(dataFile("base-1.parquet", Nil, (1L, 10L))).commit()
    val baseManifests = ManifestIO
      .readList(t.meta.currentSnapshot.get.manifestListPath).map(_.path)
    // an externally staged file the transaction body appends but does
    // not own — an abort must never delete it (the body re-runs on CAS
    // retry and needs it, and it may be shared add_files-style input)
    val ext = s"${t.location}/_stage/ext.parquet"
    GraftIO.writeString(ext, "external bytes")
    intercept[RuntimeException] {
      t.transaction { st =>
        st.newAppend().appendFile(dataFile(ext, Nil, (11L, 20L))).commit()
        throw new RuntimeException("boom")
      }
    }
    // base table intact: same head, parent manifests still on disk
    val m = t.refresh()
    assert(m.currentSnapshot.map(_.operation) === Some("append"))
    assert(t.newScan().planFiles().map(_.file.path).toSet ===
      Set(s"${t.location}/base-1.parquet"))
    baseManifests.foreach(p => assert(GraftIO.exists(p), s"parent manifest deleted: $p"))
    assert(GraftIO.exists(ext), "externally appended file deleted by abort")
  }

  test("staging abort deletes nothing when a live manifest list is unreadable") {
    val cat = tempCatalog()
    val t = cat.createTable(Seq("db"), "txf", schema)
    // a live data file under the table's own data/ directory: the kind
    // of file cleanup deletes when it appears only in a staged manifest
    val live = s"${t.location}/data/live-1.parquet"
    GraftIO.writeString(live, "live bytes")
    t.newAppend().appendFile(dataFile(live, Nil, (1L, 10L))).commit()
    val base = t.refresh()
    val liveList = base.currentSnapshot.get.manifestListPath
    val liveManifests = ManifestIO.readList(liveList).map(_.path)
    // a staged append embeds the live manifest in its own manifest list
    val staged = new StagedOps(t.ops, base)
    val stagedFile = s"${t.location}/data/staged-1.parquet"
    GraftIO.writeString(stagedFile, "staged bytes")
    new GTable(staged).newAppend()
      .appendFile(dataFile(stagedFile, Nil, (11L, 20L))).commit()
    // the live manifest list becomes unreadable; ManifestIO's path-keyed
    // list cache (cleared whole when full) would still serve it, so fill
    // the cache past its bound to make the abort really read the file
    GraftIO.writeString(liveList, "not a manifest list")
    (0 to 256).foreach(i => ManifestIO.readList(ManifestIO.inlineList(Seq(s"evict-$i"))))
    assert(!staged.cleanupStagedFiles(), "cleanup ran without its keep-set")
    assert(GraftIO.exists(live), "abort deleted a data file the live table references")
    liveManifests.foreach(p => assert(GraftIO.exists(p), s"abort deleted live manifest $p"))
    assert(GraftIO.exists(stagedFile), "cleanup deleted staged files without its keep-set")
  }
}
