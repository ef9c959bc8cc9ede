package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tables.SnapTable

class SnapTableSpec extends AnyFunSuite {

  test("mergeCommit upserts by key; read resolves latest; time travel works") {
    val spark = SparkSessionFixture.spark
    import spark.implicits._
    val dir = graft.TmpDirs.create("snaptable").toString
    val t = new SnapTable(spark, dir, Seq("k"))
    assert(t.read().isEmpty && !t.exists)

    val v1 = t.mergeCommit(Seq(("a", 1), ("b", 1)).toDF("k", "v"))
    assert(v1 == 1)
    val v2 = t.mergeCommit(Seq(("b", 2), ("c", 2)).toDF("k", "v"))
    assert(v2 == 2)

    val now = t.read().get.as[(String, Int)].collect().sorted
    assert(now.toSeq == Seq(("a", 1), ("b", 2), ("c", 2))) // b superseded

    val asOf1 = t.read(Some(1)).get.as[(String, Int)].collect().sorted
    assert(asOf1.toSeq == Seq(("a", 1), ("b", 1))) // snapshot isolation

    // reopening the table sees the committed snapshot (resume path)
    val t2 = new SnapTable(spark, dir, Seq("k"))
    assert(t2.currentVersion.contains(2))
    assert(t2.read().get.count() == 3)
  }

  test("compact folds deltas into one dir; history stays time-travelable") {
    val spark = SparkSessionFixture.spark
    import spark.implicits._
    val dir = graft.TmpDirs.create("snaptable3").toString
    val t = new SnapTable(spark, dir, Seq("k"))
    t.mergeCommit(Seq(("a", 1), ("b", 1)).toDF("k", "v"))
    t.mergeCommit(Seq(("b", 2)).toDF("k", "v"))
    t.mergeCommit(Seq(("c", 3)).toDF("k", "v"))
    val v = t.compact().get
    assert(v == 4)
    assert(t.read().get.as[(String, Int)].collect().sorted.toSeq ==
      Seq(("a", 1), ("b", 2), ("c", 3)))
    // time travel to pre-compaction snapshot still resolves correctly
    assert(t.read(Some(2)).get.as[(String, Int)].collect().sorted.toSeq ==
      Seq(("a", 1), ("b", 2)))
    // post-compaction merge keeps upserting
    t.mergeCommit(Seq(("a", 9)).toDF("k", "v"))
    assert(t.read().get.as[(String, Int)].collect().sorted.toSeq ==
      Seq(("a", 9), ("b", 2), ("c", 3)))
  }

  test("a table whose first delta stored _commit_version still resolves and time-travels") {
    val spark = SparkSessionFixture.spark
    import spark.implicits._
    val dir = graft.TmpDirs.create("snaptable-old").toString
    // version 1 in the earlier layout: the commit version stored as a column
    Seq(("a", 1, 1), ("b", 1, 1)).toDF("k", "v", "_commit_version")
      .write.parquet(s"$dir/data/v1")
    Files.createDirectories(java.nio.file.Paths.get(dir, "snapshots"))
    Files.writeString(java.nio.file.Paths.get(dir, "snapshots", "v1.json"),
      """{"version":1,"key":["k"],"dirs":["data/v1"]}""")
    Files.writeString(java.nio.file.Paths.get(dir, "_current"), "1")
    val t = new SnapTable(spark, dir, Seq("k"))
    def rows(v: Option[Int]) = t.read(v).get.as[(String, Int)].collect().sorted.toSeq
    assert(rows(None) == Seq(("a", 1), ("b", 1)))
    assert(t.read().get.columns.toSeq == Seq("k", "v"))

    t.mergeCommit(Seq(("b", 2), ("c", 2)).toDF("k", "v"))
    t.mergeCommit(Seq(("a", 3)).toDF("k", "v"))
    assert(rows(None) == Seq(("a", 3), ("b", 2), ("c", 2))) // latest wins over v1
    assert(rows(Some(1)) == Seq(("a", 1), ("b", 1)))
    assert(rows(Some(2)) == Seq(("a", 1), ("b", 2), ("c", 2)))
    // new-layout deltas store the frame as given
    assert(spark.read.parquet(s"$dir/data/v2").columns.toSeq == Seq("k", "v"))

    assert(t.compact().contains(4))
    assert(rows(None) == Seq(("a", 3), ("b", 2), ("c", 2)))
    assert(rows(Some(2)) == Seq(("a", 1), ("b", 2), ("c", 2)))
    t.mergeCommit(Seq(("c", 5)).toDF("k", "v"))
    assert(rows(None) == Seq(("a", 3), ("b", 2), ("c", 5)))
  }

  test("commits are append-only deltas (merge-on-read, no history rewrite)") {
    val spark = SparkSessionFixture.spark
    import spark.implicits._
    val dir = graft.TmpDirs.create("snaptable2").toString
    val t = new SnapTable(spark, dir, Seq("k"))
    t.mergeCommit(Seq(("x", 1)).toDF("k", "v"))
    val dataV1 = java.nio.file.Paths.get(dir, "data", "v1")
    val before = Files.walk(dataV1).count()
    t.mergeCommit(Seq(("x", 2)).toDF("k", "v"))
    assert(Files.walk(dataV1).count() == before) // v1 files untouched
    assert(t.read().get.as[(String, Int)].collect().toSeq == Seq(("x", 2)))
  }
}
