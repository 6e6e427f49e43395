package graft

import org.apache.spark.sql.functions.col

import graft.operators.{CorpusStore, ManifestTable}
import graft.operators.CorpusStore.StoreLayout

/** Per-commit `#meta:` lines ([[ManifestTable.commitMeta]]) — the atomic
  * channel for version-paired state (IvfStore's model↔postings ref, the
  * corpus store's governing layout). The properties that make it safe:
  * meta rides the SAME conditional manifest install as the snapshot (so a
  * racing loser can never clobber a winner's pairing, unlike a separately
  * written sidecar), and it describes ONE commit — never carried forward.
  * The corpus store keeps its layout ONLY there once a version exists;
  * before that, a zero-commit creation tick's staged choice is the one
  * other channel.
  */
class ManifestMetaSpec extends SparkSpec with StoreKinds {

  private def tmpRoot(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("meta round-trips through a commit and is scoped to its version") {
    val root = tmpRoot("graft_meta1")
    val v1 = ManifestTable.commitReplace(spark, root, Seq.empty,
      Seq("w/a.parquet"), meta = Map("model_version" -> "7", "kind" -> "tick"))
    val v2 = ManifestTable.commitReplace(spark, root, Seq.empty,
      Seq("w/b.parquet"))
    val v3 = ManifestTable.commitReplace(spark, root, Seq.empty,
      Seq("w/c.parquet"), meta = Map("model_version" -> "8"))
    assert(ManifestTable.commitMeta(spark, root, v1) ==
      Map("model_version" -> "7", "kind" -> "tick"))
    // a meta-less commit yields empty — v1's meta must NOT leak forward
    assert(ManifestTable.commitMeta(spark, root, v2).isEmpty,
      "meta lines were carried forward across commits")
    assert(ManifestTable.commitMeta(spark, root, v3) ==
      Map("model_version" -> "8"))
    // meta lines never corrupt the entry listing
    assert(ManifestTable.filesOf(spark, root, v3).toSet ==
      Set("w/a.parquet", "w/b.parquet", "w/c.parquet"))
  }

  test("meta values may contain '=' and ':' (layout JSON); keys are " +
    "validated") {
    val root = tmpRoot("graft_meta2")
    val json = """{"md5Buckets":16,"exprVersion":1}"""
    val v = ManifestTable.commitReplace(spark, root, Seq.empty,
      Seq("w/a.parquet"), meta = Map("layout" -> json))
    assert(ManifestTable.commitMeta(spark, root, v) == Map("layout" -> json))
    intercept[IllegalArgumentException] {
      ManifestTable.commitReplace(spark, root, Seq.empty,
        Seq("w/b.parquet"), meta = Map("bad=key" -> "x"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.commitReplace(spark, root, Seq.empty,
        Seq("w/b.parquet"), meta = Map("k" -> "line\nbreak"))
    }
    // failed validation committed nothing
    assert(ManifestTable.currentVersion(spark, root).contains(v))
  }

  test("commitRewriteFiles threads expectedVersion: a rewrite planned " +
    "against a moved store conflicts BEFORE committing") {
    val root = tmpRoot("graft_meta3")
    ManifestTable.commitReplace(spark, root, Seq.empty, Seq("w/a.parquet"))
    val planned = ManifestTable.currentVersion(spark, root).get
    // another writer moves the store after the rewrite was planned
    ManifestTable.commitReplace(spark, root, Seq.empty, Seq("w/b.parquet"))
    intercept[graft.operators.CommitConflictException] {
      ManifestTable.commitRewriteFiles(spark, root, Seq("w/a.parquet"),
        Seq.empty, expectedVersion = Some(planned))
    }
    // nothing landed: the store still shows both files at the racer's version
    assert(ManifestTable.currentVersion(spark, root).contains(planned + 1))
    assert(ManifestTable.liveFiles(spark, root).toSet ==
      Set("w/a.parquet", "w/b.parquet"))
  }

  test("the corpus-store layout lives only in the commit meta across " +
    "create, tick, rebucket and forget; a committed version without it " +
    "throws") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val root = tmpRoot("graft_metalay")
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layoutDir = new org.apache.hadoop.fs.Path(s"$root/_layout")
    // after each commit: layoutOf resolves exactly the current commit's
    // meta, and no layout file exists beside it
    def pinned(expected: StoreLayout): Long = {
      val v = ManifestTable.currentVersion(spark, root).get
      val l = CorpusStore.layoutOf(spark, root)
      assert(l == expected, s"v$v resolved $l, expected $expected")
      assert(ManifestTable.commitMeta(spark, root, v).get("layout")
        .contains(l.render), s"v$v meta disagrees with layoutOf")
      assert(!hfs.exists(layoutDir), s"$layoutDir exists at v$v")
      v
    }
    try {
      val small = StoreLayout(4, 4, 4)
      // a zero-commit creation tick stages its choice; the creating
      // commit that follows must delete the staged copy
      CorpusStore.tick(docs.filter(col("doc_id") % 7 === 0), root,
        minQuality = 1e9, layoutIfNew = Some(small))
      assert(hfs.exists(layoutDir), "construction failed: nothing staged")
      CorpusStore.tick(docs.filter(col("doc_id") % 7 === 0), root,
        tickId = Some("w0"), layoutIfNew = Some(small))
      val v1 = pinned(small)
      CorpusStore.tick(docs.filter(col("doc_id") % 7 === 1), root,
        tickId = Some("w1"))
      val v2 = pinned(small)
      val big = StoreLayout(8, 8, 8)
      CorpusStore.compact(spark, root, rebucketTo = Some(big))
      val v3 = pinned(big)
      val victim = CorpusStore.read(spark, root).select(col("text_md5"))
        .head().getString(0)
      assert(CorpusStore.forget(spark, root, Seq(victim)).nPurgedDocs == 1L)
      val v4 = pinned(big)
      assert(Seq(v1, v2, v3, v4) == Seq(1L, 2L, 3L, 4L),
        s"expected one commit per operation: ${Seq(v1, v2, v3, v4)}")

      // strip the current commit's #meta:layout (through the hadoop FS, so
      // the local-FS crc sidecar stays in step): no other record of the
      // layout exists, so resolution must fail loudly, not guess
      val manifest = new org.apache.hadoop.fs.Path(
        s"$root/_manifests/v${"%020d".format(v4)}.manifest")
      val in = hfs.open(manifest)
      val orig = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val out = hfs.create(manifest, true)
      try out.write((orig.split("\n").filterNot(_.startsWith("#meta:layout="))
        .mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      val ex = intercept[IllegalStateException] {
        CorpusStore.layoutOf(spark, root)
      }
      assert(ex.getMessage.contains(root) && ex.getMessage.contains(s"$v4"),
        ex.getMessage)
    } finally spark.catalog.clearCache()
  }

  test("a creation layout chosen by a zero-commit tick is not lost") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val chosen = StoreLayout(4, 4, 4)
    val root = java.nio.file.Files.createTempDirectory("graft_layzero").toString
    try {
      // every document fails the quality gate: the tick processes, drops
      // all, and commits NOTHING — but its explicit layout choice must
      // survive as the staged v1 sidecar
      val r0 = CorpusStore.tick(docs.filter(col("doc_id") % 7 === 0), root,
        tickId = Some("w0"), minQuality = 1e9, layoutIfNew = Some(chosen))
      assert(r0.nKept == 0L
        && ManifestTable.currentVersion(spark, root).isEmpty,
        s"construction failed: the creation tick committed: $r0")
      assert(CorpusStore.layoutOf(spark, root) == chosen,
        "zero-commit creation choice not visible to layoutOf")

      // the store's ACTUAL creation, with no layout argument at all,
      // adopts the staged choice — not DefaultLayout
      CorpusStore.tick(docs.filter(col("doc_id") % 7 === 1), root,
        tickId = Some("w1"))
      assert(ManifestTable.currentVersion(spark, root).contains(1L))
      assert(CorpusStore.layoutOf(spark, root) == chosen,
        "creation without layoutIfNew discarded the staged choice")
      // and the files really sit in dirs of the chosen layout
      KindCols.foreach { case (kind, _) =>
        kindRows(root, kind).foreach { rows =>
          assert(rows.filter(bucketExpr(kind, chosen) =!=
            col("p_b").cast("int")).isEmpty,
            s"$kind files landed in dirs foreign to the staged layout")
        }
      }
      // asserting a different layout on the now-existing store throws
      intercept[IllegalArgumentException] {
        CorpusStore.tick(docs.filter(col("doc_id") % 7 === 2), root,
          layoutIfNew = Some(StoreLayout(8, 8, 8)))
      }
    } finally spark.catalog.clearCache()
  }
}
