package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.SkewJoin
import graft.sinks.PartitionedSink

/** Scale utilities: salted skew join equivalence, partitioned retention. */
class ScaleOpsSpec extends AnyFunSuite with SparkSpec {

  test("salted join returns exactly the rows of the plain join") {
    val s = spark; import s.implicits._
    // heavily skewed: 900 of 1000 rows share key 7
    val left = (1 to 1000).map(i => (if (i <= 900) 7L else i.toLong, i))
      .toDF("k", "payload")
    val right = Seq((7L, "hot"), (950L, "cold"), (999L, "cold")).toDF("k", "tag")
    val plain = left.join(right, "k")
      .select("k", "payload", "tag").as[(Long, Int, String)].collect().sorted
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", salts = 8)
      .select("k", "payload", "tag").as[(Long, Int, String)].collect().sorted
    assert(salted.toSeq == plain.toSeq)
    assert(plain.count(_._1 == 7L) == 900)
  }

  test("skew salting: identical rows of one hot key fan out across salts") {
    val s = spark; import s.implicits._
    // 64 BYTE-IDENTICAL rows of one key — a content-hash salt would send
    // them all to one salt (i.e. one task), defeating the whole point
    val left = Seq.fill(64)((7L, "dup")).toDF("k", "payload")
    val distinctSalts = left.withColumn("__salt", SkewJoin.saltExpr(8))
      .select("__salt").distinct().count()
    assert(distinctSalts > 1)
  }

  test("partitioned sink: day partitions land and retention drops old ones") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_sink").toFile.getPath + "/log"
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", "a"),
      (2L, "2024-01-02 11:00:00", "b"),
      (3L, "2024-01-03 12:00:00", "c"))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    PartitionedSink.appendByDay(rows, "ts", dir)
    assert(PartitionedSink.read(s, dir).count() == 3)
    val dropped = PartitionedSink.dropOlderThan(s, dir, "2024-01-03")
    assert(dropped == Seq("p_date=2024-01-01", "p_date=2024-01-02"))
    val left = PartitionedSink.read(s, dir).select("id").as[Long].collect()
    assert(left.toSeq == Seq(3L))
  }

  test("partitioned sink: retention removes a symlink, never the tree it points into") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_sink").toFile.getPath + "/log"
    PartitionedSink.appendByDay(Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-05 10:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp")), "ts", dir)
    val target = Files.createTempDirectory("graft_sink_target")
    Files.writeString(target.resolve("keep.txt"), "keep")
    Files.createSymbolicLink(java.nio.file.Paths.get(dir, "p_date=2024-01-01", "link"), target)
    assert(PartitionedSink.dropOlderThan(s, dir, "2024-01-03") == Seq("p_date=2024-01-01"))
    assert(!Files.exists(java.nio.file.Paths.get(dir, "p_date=2024-01-01")))
    assert(Files.readString(target.resolve("keep.txt")) == "keep")
    graft.Scratch.deleteRec(target.toFile)
  }
}
