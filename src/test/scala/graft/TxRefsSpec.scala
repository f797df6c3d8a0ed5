package graft

import org.apache.spark.sql.functions._

import graft.sources.TxTable

/** Tags, branches, fast-forward, and ref-protected expiry. */
class TxRefsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_refs_spec_").toString + "/t"

  test("tags are immutable and name-validated") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 1.0)).toDF("id", "x"), table)
    TxTable.createTag(spark, table, "rel-1") shouldBe 1
    val ex = intercept[Exception] { TxTable.createTag(spark, table, "rel-1") }
    ex.getMessage should include("already exists")
    an[IllegalArgumentException] should be thrownBy
      TxTable.createTag(spark, table, "bad/name")
    TxTable.refsOf(spark, table) shouldBe Seq(("rel-1", "tag", 1))
  }

  test("branch line is independent of main in both directions") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 1.0)).toDF("id", "x"), table)
    TxTable.createBranch(spark, table, "dev") shouldBe 1
    // branch gains a row main never sees; main gains one the branch never sees
    TxTable.commit(Seq((2L, 2.0)).toDF("id", "x"),
      TxTable.branchPath(spark, table, "dev"))
    TxTable.commit(Seq((3L, 3.0)).toDF("id", "x"), table)
    TxTable.readRef(spark, table, "dev").select("id").collect()
      .map(_.getLong(0)).sorted shouldBe Seq(1L, 2L)
    TxTable.read(spark, table).select("id").collect()
      .map(_.getLong(0)).sorted shouldBe Seq(1L, 3L)
  }

  test("fastForward publishes the branch snapshot, re-relativizing main-borrowed files") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 1.0)).toDF("id", "x"), table,
      statsCols = Seq("id"))
    TxTable.createBranch(spark, table, "dev")
    TxTable.commit(Seq((2L, 2.0)).toDF("id", "x"),
      TxTable.branchPath(spark, table, "dev"), statsCols = Seq("id"))
    val v = TxTable.fastForward(spark, table, "dev")
    v shouldBe 2
    TxTable.read(spark, table).select("id").collect()
      .map(_.getLong(0)).sorted shouldBe Seq(1L, 2L)
    val files = TxTable.filesOf(spark, table, v)
    // main's own v1 file came back RELATIVE (self-contained manifest);
    // the branch-local file is an absolute borrow
    files.count(!_.startsWith("/")) shouldBe 1
    files.count(_.startsWith("/")) shouldBe 1
    // carried stats still prune on the fast-forwarded snapshot
    TxTable.scan(spark, table, col("id").between(2.0, 2.0)).count() shouldBe 1L
  }

  test("fastForward refuses a diverged main and carries MoR deletes when legal") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x"), table,
      bloomCols = Seq("id"))
    TxTable.createBranch(spark, table, "dev")
    TxTable.deleteKeysMor(spark, TxTable.branchPath(spark, table, "dev"),
      "id", Seq(1L).toDF("id"))
    // diverge main → refusal
    TxTable.commit(Seq((9L, 9.0)).toDF("id", "x"), table)
    val ex = intercept[Exception] { TxTable.fastForward(spark, table, "dev") }
    ex.getMessage should include("advanced")
    // a fresh branch from the new head fast-forwards the delete
    TxTable.createBranch(spark, table, "dev2")
    TxTable.deleteKeysMor(spark, TxTable.branchPath(spark, table, "dev2"),
      "id", Seq(1L).toDF("id"))
    TxTable.fastForward(spark, table, "dev2")
    TxTable.read(spark, table).select("id").collect()
      .map(_.getLong(0)).sorted shouldBe Seq(2L, 9L)
  }

  test("expireVersions keeps tag-pinned chains; dropRef releases them") {
    val table = freshTable()
    for (i <- 1 to 13)
      TxTable.commit(Seq((i.toLong, i.toDouble)).toDF("id", "x"), table)
    TxTable.createTag(spark, table, "old", 3)
    val (expNone, _) = TxTable.expireVersions(spark, table, keepLast = 2)
    expNone shouldBe empty // v3's chain floor is v1 — everything pinned
    TxTable.readRef(spark, table, "old").count() shouldBe 3L
    TxTable.dropRef(spark, table, "old")
    val (expNow, _) = TxTable.expireVersions(spark, table, keepLast = 2)
    expNow shouldBe (1 to 9) // delta chain floor of kept v12 is v10
    TxTable.read(spark, table).count() shouldBe 13L
    an[Exception] should be thrownBy TxTable.readVersion(spark, table, 3).collect()
  }

  test("dropRef on a branch removes its commit line; tag reads pin while main moves") {
    val table = freshTable()
    TxTable.commit(Seq((1L, 1.0)).toDF("id", "x"), table)
    TxTable.createTag(spark, table, "v1")
    TxTable.createBranch(spark, table, "tmp")
    val root = TxTable.branchPath(spark, table, "tmp")
    TxTable.commit(Seq((2L, 2.0)).toDF("id", "x"), root)
    TxTable.dropRef(spark, table, "tmp")
    TxTable.refsOf(spark, table).map(_._1) shouldBe Seq("v1")
    an[Exception] should be thrownBy TxTable.branchPath(spark, table, "tmp")
    TxTable.commit(Seq((5L, 5.0)).toDF("id", "x"), table)
    TxTable.readRef(spark, table, "v1").count() shouldBe 1L
  }

  test("drop invalidates nested branch snapshots (same-path re-create reads fresh)") {
    // regression: drop(table) deletes the branch dirs under
    // _refs_branch/ but used to leave their snapshot-cache entries
    // alive, so a re-created branch AT THE SAME PATH resolved to the
    // dropped generation's file list and the read failed PATH_NOT_FOUND
    val table = freshTable()
    def cycle(tag: Long): Seq[Long] = {
      TxTable.drop(spark, table)
      TxTable.commit(Seq((tag, 1.0)).toDF("id", "x"), table)
      TxTable.createBranch(spark, table, "dev")
      TxTable.commit(Seq((tag + 1L, 2.0)).toDF("id", "x"),
        TxTable.branchPath(spark, table, "dev"))
      TxTable.fastForward(spark, table, "dev")
      TxTable.read(spark, table).select("id").collect().map(_.getLong(0)).sorted.toSeq
    }
    cycle(1L) shouldBe Seq(1L, 2L)
    cycle(10L) shouldBe Seq(10L, 11L) // second generation, same paths
  }
}
