package graft.runtime

import org.scalatest.funsuite.AnyFunSuite
import graft.mr.TestSession

/** The persisted-index plumbing shared by the incremental families:
  * collision-safe catalog names and idempotent bucketed-table
  * registration (r15 ADVICE: 32-bit names could alias two live indexes;
  * unconditional DROP/CREATE raced concurrent readers of one dir).
  */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("tableFor: 64-bit names are stable per dir and distinct across dirs") {
    val a = IndexStore.tableFor("graft_t_", "/tmp/idx-a")
    assert(a == IndexStore.tableFor("graft_t_", "/tmp/idx-a"), "names must be stable")
    // distinct across many dirs (the 32-bit version collides at the
    // birthday bound of a long-lived JVM's dir count; 64 bits must not
    // collide across a large sweep)
    val names = (0 until 20000).map(i => IndexStore.tableFor("graft_t_", s"/tmp/idx-$i"))
    assert(names.distinct.size == names.size, "64-bit dir names collided")
    assert(a.matches("graft_t_[0-9a-f]{1,16}"))
  }

  test("ensureBucketedTable: registration is idempotent and re-points only on a location change") {
    val dirA = java.nio.file.Files.createTempDirectory("idxstore-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("idxstore-b").toString
    try {
      Seq((1L, "x"), (2L, "y")).toDF("doc_id", "content_hash")
        .write.format("parquet").bucketBy(4, "content_hash")
        .option("path", s"$dirA/t").saveAsTable("graft_idxstore_spec")
      // same name, same location: reuse (no DROP/CREATE — a concurrent
      // reader's plan resolving this name must never see it vanish)
      val t1 = IndexStore.ensureBucketedTable(spark, "graft_idxstore_spec",
        "doc_id BIGINT, content_hash STRING", "content_hash", 4, s"$dirA/t")
      assert(t1.count() == 2L)
      val createdAt = spark.sql("DESCRIBE TABLE EXTENDED graft_idxstore_spec")
        .collect().find(_.getString(0) == "Created Time").map(_.getString(1))
      val t2 = IndexStore.ensureBucketedTable(spark, "graft_idxstore_spec",
        "doc_id BIGINT, content_hash STRING", "content_hash", 4, s"$dirA/t")
      assert(t2.count() == 2L)
      val createdAt2 = spark.sql("DESCRIBE TABLE EXTENDED graft_idxstore_spec")
        .collect().find(_.getString(0) == "Created Time").map(_.getString(1))
      assert(createdAt == createdAt2, "reuse path must not re-create the table")
      // a DIFFERENT location under the same name re-points
      Seq((9L, "z")).toDF("doc_id", "content_hash")
        .write.mode("overwrite").parquet(s"$dirB/t")
      val t3 = IndexStore.ensureBucketedTable(spark, "graft_idxstore_spec",
        "doc_id BIGINT, content_hash STRING", "content_hash", 4, s"$dirB/t")
      assert(t3.count() == 1L, "location change must re-point the table")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_idxstore_spec")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirA))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirB))
    }
  }

  test("ensureBucketedTable: a reader session sees another session's append") {
    // each session caches its own resolved relation (file listing
    // included): the reader's next registration must refresh it, or it
    // keeps serving the files it first resolved
    val dir = java.nio.file.Files.createTempDirectory("idxstore-x").toString
    val schema = "doc_id BIGINT, content_hash STRING"
    val reader = spark.newSession()
    try {
      IndexStore.writeBucketed(Seq((1L, "x"), (2L, "y")).toDF("doc_id", "content_hash"),
        4, s"$dir/t", "graft_idxstore_xsession", "overwrite", "content_hash")
      assert(IndexStore.ensureBucketedTable(reader, "graft_idxstore_xsession",
        schema, "content_hash", 4, s"$dir/t").count() == 2L)
      IndexStore.writeBucketed(Seq((3L, "z")).toDF("doc_id", "content_hash"),
        4, s"$dir/t", "graft_idxstore_xsession", "append", "content_hash")
      assert(IndexStore.ensureBucketedTable(reader, "graft_idxstore_xsession",
        schema, "content_hash", 4, s"$dir/t").count() == 3L,
        "the reader session served its stale file listing")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_idxstore_xsession")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
