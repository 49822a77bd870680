package graft.meta

import graft.SparkSpec
import graft.sources.RawFileSource
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** S3/M1: raw whole-file metastore storage end-to-end. */
class RawFormatSpec extends SparkSpec {

  test("raw save/read roundtrip with info-date partitioning") {
    val srcDir = tmpDir("rawsrc_")
    Files.write(Paths.get(s"$srcDir/a.bin"), Array[Byte](1, 2, 3))
    Files.write(Paths.get(s"$srcDir/b.bin"), Array[Byte](9, 8, 7, 6))

    val ms = new Metastore(spark)
    ms.register(MetaTable("blobs", tmpDir("rawms_") + "/blobs", format = DataFormat.Raw))
    val d1 = LocalDate.parse("2024-06-01")
    val d2 = LocalDate.parse("2024-06-02")

    val src = new RawFileSource(spark, srcDir)
    val stats = ms.saveTable("blobs", d1, src.getData(d1, d1).df)
    assert(stats.recordCount == 2)

    // second day with one file
    val srcDir2 = tmpDir("rawsrc2_")
    Files.write(Paths.get(s"$srcDir2/c.bin"), Array[Byte](5))
    ms.saveTable("blobs", d2, new RawFileSource(spark, srcDir2).getData(d2, d2).df)

    val day1 = ms.getTable("blobs", Some(d1), Some(d1))
    assert(day1.count() == 2)
    val contents = day1.select("path", "content").collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName ->
        r.getAs[Array[Byte]]("content").toSeq).toMap
    assert(contents("a.bin") == Seq[Byte](1, 2, 3))
    assert(contents("b.bin") == Seq[Byte](9, 8, 7, 6))

    assert(ms.getTable("blobs").count() == 3)
    assert(ms.listAvailableDates("blobs") == Seq(d1, d2))
    assert(ms.getLatest("blobs").count() == 1)
  }

  test("re-saving a day replaces its files (idempotent re-runs)") {
    val ms = new Metastore(spark)
    ms.register(MetaTable("rr", tmpDir("rawrr_") + "/rr", format = DataFormat.Raw))
    val d = LocalDate.parse("2024-06-01")
    val s1 = tmpDir("rr1_"); Files.write(Paths.get(s"$s1/x.bin"), Array[Byte](1))
    val s2 = tmpDir("rr2_"); Files.write(Paths.get(s"$s2/y.bin"), Array[Byte](2))
    ms.saveTable("rr", d, new RawFileSource(spark, s1).getData(d, d).df)
    ms.saveTable("rr", d, new RawFileSource(spark, s2).getData(d, d).df)
    val files = ms.getTable("rr", Some(d), Some(d)).select("path").collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
    assert(files == Set("y.bin"), s"old files must be replaced: $files")
  }

  test("a raw day saved with no files reads back empty, bounded or latest") {
    import spark.implicits._
    val ms = new Metastore(spark)
    ms.register(MetaTable("gap", tmpDir("rawgap_") + "/gap", format = DataFormat.Raw))
    val d1 = LocalDate.parse("2024-06-01")
    val d2 = LocalDate.parse("2024-06-02")
    val s1 = tmpDir("gap1_"); Files.write(Paths.get(s"$s1/x.bin"), Array[Byte](1))
    ms.saveTable("gap", d1, new RawFileSource(spark, s1).getData(d1, d1).df)
    ms.saveTable("gap", d2, Seq.empty[(String, Array[Byte])].toDF("path", "content"))
    assert(ms.listAvailableDates("gap") == Seq(d1, d2))
    assert(ms.getTable("gap", Some(d2), Some(d2)).count() == 0)
    assert(ms.getLatest("gap").count() == 0)
    assert(ms.getTable("gap", Some(d1), Some(d2)).count() == 1)
  }

  test("raw save rejects frames without path/content") {
    import spark.implicits._
    val ms = new Metastore(spark)
    ms.register(MetaTable("bad", tmpDir("rawbad_") + "/bad", format = DataFormat.Raw))
    assertThrows[IllegalArgumentException](
      ms.saveTable("bad", LocalDate.parse("2024-06-01"), Seq((1, "x")).toDF("a", "b")))
  }
}
