package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The bounded-parallel driver-side discovery walk: a many-store mount
  * dir discovers every (store, array) pair with the same order-stable
  * result the serial walk produced, and [[ByteStore.parMap]] keeps
  * input order and propagates the first failure's cause. */
class ParallelDiscoverySpec extends SparkSpec {

  test("parMap preserves input order and runs every item") {
    val got = ByteStore.parMap(1 to 64, par = 8)(i => i * i)
    assert(got == (1 to 64).map(i => i * i))
    // degenerate sizes skip the pool
    assert(ByteStore.parMap(Seq.empty[Int])(_ * 2).isEmpty)
    assert(ByteStore.parMap(Seq(7))(_ * 2) == Seq(14))
  }

  test("parMap rethrows the first failure's own exception type") {
    val e = intercept[IllegalArgumentException] {
      ByteStore.parMap(1 to 16, par = 4) { i =>
        if (i == 9) throw new IllegalArgumentException(s"boom $i") else i
      }
    }
    assert(e.getMessage == "boom 9")
  }

  test("a many-store dir discovers all stores, order-stable") {
    val dir = Files.createTempDirectory("graft-pardisc").toString
    val n = 24
    val grid = spark.range(n.toLong * 12).select(
      concat(lit("sc"), format_string("%02d", expr("id div 12"))).as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 4") * 10.0).as("x"),
      (expr("(id div 4) % 3") * 10.0).as("y"),
      (col("id") * 1.0).as("value"))
    Zarr3.writeScenes(grid, dir, "lwp", chunkRows = Some(3)).count()
    // each scene store holds the data array plus the x/y coord arrays
    val expected = (for {
      i <- 0 until n; a <- Seq("lwp", "x", "y")
    } yield (s"$dir/sc${"%02d".format(i)}.zarr", a)).sorted
    val r = ByteStore.startRecording()
    val got = try ZarrChunkIngest.discover(dir) finally ByteStore.stopRecording()
    assert(got == expected)
    // round-trip budget: the walk's METADATA op count is proportional
    // to directory count (each dir: one list + ~3 node probes), and the
    // parMap waves make the LATENCY proportional to depth — keep the
    // count pinned so a future walk can't quietly go quadratic
    info(s"discover over $n stores: ${r.metaOps} metadata ops")
    assert(r.metaOps <= n.toLong * 16 + 8, s"metadata ops blew up: ${r.metaOps}")
    // repeat runs are deterministic (the walk sorts after the wave)
    assert(ZarrChunkIngest.discover(dir) == got)
    // and the mount over the many-store dir reads every scene's rows
    val cnt = spark.read.format("graft.sources.ZarrDataSource")
      .option("path", dir).load().where(col("dataset") === "lwp").count()
    assert(cnt == n.toLong * 12)
  }

  test("nested group arrays still discover through the parallel sweep") {
    // a store whose arrays live under group dirs, plus a root array:
    // the level sweep must find both and name them by group path
    val store = Files.createTempDirectory("graft-pardisc-nest").toString
    def mkArray(rel: String): Unit = {
      val d = new java.io.File(store, rel)
      d.mkdirs()
      val meta = """{"zarr_format":2,"shape":[2],"chunks":[2],""" +
        """"dtype":"<f8","compressor":null,"fill_value":0,"order":"C","filters":null}"""
      Files.write(new java.io.File(d, ".zarray").toPath,
        meta.getBytes("UTF-8"))
    }
    Files.write(new java.io.File(store, ".zgroup").toPath,
      """{"zarr_format":2}""".getBytes("UTF-8"))
    mkArray("top")
    mkArray("grp/a")
    mkArray("grp/sub/b")
    assert(ZarrChunkIngest.arraysIn(store) == Seq("grp/a", "grp/sub/b", "top"))
  }
}
