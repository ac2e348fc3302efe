package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The DSv2 mount of the HDF5 chunk-parallel reader: format(...) read
  * semantics vs the library path, plan-phase chunk pruning from pushed
  * dataset filters, and column pruning that provably never touches chunk
  * payload bytes. */
class Hdf5DataSourceSpec extends SparkSpec {

  private val Fmt = "graft.sources.Hdf5DataSource"

  /** Two-dataset chunked file: 'lwp' 24 values in 6 chunks, 'decoy' 40
    * values in 10 chunks; deflate+shuffle so payload corruption is
    * detectable (and decode skippability provable). */
  private def writeStore(): String = {
    val dir = Files.createTempDirectory("graft-h5dsv2").toString
    val bytes = HDF5.write(Seq(
      HDF5.DsSpec("lwp", Seq(6, 4), Array.tabulate(24)(_ * 0.5 - 3.0),
        chunkDims = Some(Seq(1, 4))),
      HDF5.DsSpec("decoy", Seq(40), Array.tabulate(40)(_ * 2.0),
        chunkDims = Some(Seq(4)))), deflate = true)
    Files.write(Paths.get(dir, "store.h5"), bytes)
    dir
  }

  test("reads match the HDF5ChunkIngest library path exactly") {
    val dir = writeStore()
    val df = spark.read.format(Fmt).option("path", s"$dir/store.h5").load()
    // the library path is the whole-file decode
    val lib = HDF5.read(Files.readAllBytes(Paths.get(dir, "store.h5"))).flatMap(ds =>
      ds.data.zipWithIndex.map { case (v, i) => (s"$dir/store.h5", ds.name, i.toLong, v) })
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))
    assert(df.collect().map(key).sorted.toSeq == lib.sorted)
    assert(df.schema.fieldNames.toSeq ==
      Seq("path", "dataset", "idx", "value", "d0", "d1", "d2", "d3"))
  }

  test("dataset equality filter prunes chunks at PLAN time") {
    val dir = writeStore()
    def parts(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
    // partitions=64 > task count, so partition count == planned task count
    val all = spark.read.format(Fmt)
      .option("path", s"$dir/store.h5").option("partitions", "64").load()
    assert(parts(all) == 16) // 6 lwp + 10 decoy chunks
    val pruned = all.where(col("dataset") === "lwp")
    assert(parts(pruned) == 6) // decoy's chunks never planned
    assert(pruned.count() == 24)
    assert(pruned.queryExecution.executedPlan.toString.contains("pushed=EqualTo"))
    // IN pushes too; the residual filter still applies (semantics intact)
    val in = all.where(col("dataset").isin("lwp", "nope"))
    assert(parts(in) == 6)
    assert(in.agg(sum("value")).head.getDouble(0) == (0 until 24).map(_ * 0.5 - 3.0).sum)
  }

  test("idx range predicates prune chunks at PLAN time (the spatial crop)") {
    // lwp shape (6,4), chunks (1,4): 6 row-band chunks spanning exactly
    // [r*4, r*4+3]
    val dir = writeStore()
    val lwp = spark.read.format(Fmt).option("path", s"$dir/store.h5")
      .option("partitions", "64").load()
      .where(col("dataset") === "lwp")
    assert(lwp.rdd.getNumPartitions == 6)
    val band = lwp.where(col("idx").between(8, 15))
    assert(band.rdd.getNumPartitions == 2) // rows 2-3 only
    assert(band.select("idx").collect().map(_.getLong(0)).sorted.toSeq ==
      (8L to 15L))
    assert(band.queryExecution.executedPlan.toString
      .contains("GreaterThanOrEqual(idx,8)"))
    assert(lwp.where(col("idx") >= 24).rdd.getNumPartitions == 0)
  }

  test("index-only projection never reads chunk payload bytes") {
    val dir = writeStore()
    val path = Paths.get(dir, "store.h5")
    val bytes = Files.readAllBytes(path)
    // corrupt every deflate stream body: flip bytes well inside each
    // chunk's payload; metadata (headers, B-trees) lives before the data
    // blocks the manifest points at, so locate payloads via the manifest
    val tasks = HDF5ChunkIngest.chunkTasks(Seq(path.toString))
    tasks.foreach { t =>
      val mid = (t.offset + t.nbytes / 2).toInt
      bytes(mid) = (bytes(mid) ^ 0x5a).toByte
    }
    Files.write(path, bytes)
    val df = spark.read.format(Fmt).option("path", path.toString).load()
    // value projection must fail loudly (corrupt deflate / wrong length)
    intercept[org.apache.spark.SparkException](df.select("value").collect())
    // idx/dataset projection succeeds: payload bytes are never touched
    val idx = df.select("dataset", "idx").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(idx.toSeq == ((0 until 40).map(("decoy", _)) ++
      (0 until 24).map(("lwp", _))).map { case (d, i) => (d, i.toLong) }.sorted)
  }

  test("glob + path filter resolve and prune across files") {
    val dir = writeStore()
    val b2 = HDF5.write(Seq(HDF5.DsSpec("lwp", Seq(4), Array.tabulate(4)(_ + 100.0),
      chunkDims = Some(Seq(2)))))
    Files.write(Paths.get(dir, "other.h5"), b2)
    val all = spark.read.format(Fmt).option("path", s"$dir/*.h5").load()
    assert(all.select("path").distinct().count() == 2)
    val one = spark.read.format(Fmt)
      .option("path", s"$dir/*.h5").option("partitions", "64").load()
      .where(col("path") === s"$dir/other.h5")
    assert(one.rdd.getNumPartitions == 2) // other.h5's 2 chunks only
    assert(one.agg(sum("value")).head.getDouble(0) == 406.0)
  }

  test("variable option narrows the manifest like the library path") {
    val dir = writeStore()
    val df = spark.read.format(Fmt).option("path", s"$dir/store.h5").load()
      .where(col("dataset") === "decoy")
    assert(df.select("dataset").distinct().collect().map(_.getString(0)).toSeq
      == Seq("decoy"))
    assert(df.count() == 40)
  }

  test("d0/d1 bbox prunes the chunk grid at plan time and stays exact") {
    val dir = Files.createTempDirectory("graft-h5bbox").toString
    val bytes = HDF5.write(Seq(
      HDF5.DsSpec("v", Seq(6, 6), Array.tabulate(36)(_ * 1.5 - 4.0),
        chunkDims = Some(Seq(2, 2)))), deflate = true)
    Files.write(Paths.get(dir, "b.h5"), bytes)
    val all = spark.read.format(Fmt).option("path", s"$dir/b.h5")
      .option("partitions", "64").load()
    assert(all.rdd.getNumPartitions == 9) // 3x3 chunk grid
    // a NON-LEADING-dimension slice — inexpressible as one linear idx
    // range (the d1-in-[2,3] indexes interleave through every row) —
    // prunes to chunk column 1 at plan time
    val xband = all.where(col("d1").between(2, 3))
    assert(xband.rdd.getNumPartitions == 3)
    assert(xband.count() == 12)
    // 2-D bbox: one chunk plans
    val bbox = all.where(col("d0").between(2, 3) && col("d1").between(4, 5))
    assert(bbox.rdd.getNumPartitions == 1)
    // residual filters keep it EXACT vs idx arithmetic on the full read
    val expect = all.select("idx", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .filter { case (i, _) =>
        i / 6 >= 2 && i / 6 <= 3 && i % 6 >= 4 && i % 6 <= 5 }
      .sorted.toSeq
    val got = bbox.select("idx", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(got == expect && got.size == 4)
    // the d-columns ARE the row-major coordinates (0 past the rank)
    all.select("idx", "d0", "d1", "d2", "d3").collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(0) / 6 && r.getLong(2) == r.getLong(0) % 6)
      assert(r.getLong(3) == 0L && r.getLong(4) == 0L)
    }
    // an empty bbox plans NOTHING
    assert(all.where(col("d3") === 7L).rdd.getNumPartitions == 0)
  }
}
