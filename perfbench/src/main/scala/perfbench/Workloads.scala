package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Domain
import graft.embeddings.{Inference, Onnx, OnnxWriter}
import graft.functions.TextAnalysis
import graft.operators._
import graft.sources.{CatalogManifest, GridOpen, ZarrSink}

/** What one workload run shares: the session, its scratch directory
  * inside the checkout, the seed and the core count inputs are sized by. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, cores: Int) {
  def dir(parts: String*): Path = parts.foldLeft(work)(_.resolve(_))
}

/** Outcome of one pass: work items completed, and the output checks,
  * which run after the pass's clock stops. */
final case class PassResult(items: Long, checks: Workload.Checks)

/** One closed-loop workload. [[prepare]] builds the inputs (it may run
  * several times; the last build is the one passes read); [[pass]] calls
  * the program's public functions in the order a user's job would and
  * checks the outputs without going through the engine. */
trait Workload {
  def itemName: String
  /** Bytes of generated input one pass reads or writes. */
  def inputBytes: Long
  def prepare(rep: Int): Unit
  def pass(t: Tracer, index: Int): PassResult
  /** Removes what a pass left on disk (not timed). */
  def cleanup(index: Int): Unit = ()
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "scene_ingest" => new SceneIngest(ctx)
    case "scene_tiles" => new SceneTiles(ctx)
    case "text_dedup" => new TextDedup(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names: Seq[String] = Seq("scene_ingest", "scene_tiles", "text_dedup")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Output checks of one pass. [[later]] defers a check's work until
    * the pass is timed; [[run]] evaluates them all. */
  final class Checks {
    private val failures = mutable.ArrayBuffer.empty[String]
    private val deferred = mutable.ArrayBuffer.empty[() => Unit]
    def apply(ok: Boolean, what: => String): Unit = if (!ok) failures += what
    def later(body: => Unit): Unit = deferred += (() => body)
    def run(): Seq[String] = {
      deferred.foreach(_())
      deferred.clear()
      failures.toSeq
    }
  }

  def failed(what: String): Checks = { val c = new Checks; c(ok = false, what); c }
}

import Workload.{Checks, deleteTree}

// ---------------------------------------------------------------------------

/** Scene ingest: write scenes through the zarr sink, build the catalog
  * manifest, materialize the catalog, then append and edit scenes,
  * refresh the manifest and materialize again. */
final class SceneIngest(ctx: Ctx) extends Workload {
  import ctx.spark
  val itemName = "scenes"
  private val grid = 32
  private val nScenes = 4 * ctx.cores
  private val nNew = ctx.cores
  private val changed: Seq[Int] = (0 until ctx.cores / 2).map(_ * 5 + 1)
  def inputBytes: Long = (nScenes + nNew + changed.size).toLong * grid * grid * 8

  private def storeName(k: Int) = f"g$k%04d.zarr"

  /** Each store's change fingerprint as the manifest records it, by
    * store directory name (one row per store and variable; every
    * variable's row carries its store's fingerprint). */
  private def fingerprints(manifest: String): Map[String, Seq[Long]] =
    CatalogManifest.read(spark, manifest)
      .select("store", "fpMtime", "fpBytes", "fpCount", "fpHash").collect()
      .map(r => r.getString(0).split('/').last -> (1 to 4).map(r.getLong)).toMap

  /** Pixels of scenes `ks` in the sink's input contract; every value is
    * [[Inputs.pixel]] at `version`. */
  private def pixels(ks: Seq[Int], version: Int): DataFrame = {
    val g = grid.toLong
    spark.range(ks.size * g * g)
      .select(
        element_at(typedlit(ks), (col("id") / (g * g)).cast("int") + 1).as("k"),
        ((col("id") / g) % g).as("j"), (col("id") % g).as("i"))
      .select(
        format_string("g%04d", col("k")).as("scene_id"),
        lit(java.sql.Timestamp.valueOf("2021-07-01 12:00:00")).as("time"),
        (col("i") * 1000.0).as("x"), (col("j") * 1000.0).as("y"),
        pmod(lit(ctx.seed * 17L) + col("k") * 7919L + col("j") * 131L +
          col("i") * 31L + lit(version * 613L), lit(1009L)).cast("double").as("value"))
  }

  def prepare(rep: Int): Unit = ()

  def pass(t: Tracer, index: Int): PassResult = {
    val root = ctx.dir("ingest", s"p$index")
    val cat = root.resolve("catalog").toString
    val manifest = root.resolve("catalog").resolve("_manifest").toString
    val out = root.resolve("scenes.parquet").toString
    val ok = new Checks
    val base = 0 until nScenes
    val added = nScenes until nScenes + nNew

    val written = t.span("sources.write") {
      ZarrSink.writeScenes(pixels(base, 0), cat, "lwp").count()
    }
    ok(written == nScenes, s"wrote $written of $nScenes scenes")
    val (rows, built) = t.span("sources.manifest_build") {
      val n = CatalogManifest.build(spark, "zarr", cat, Seq("lwp"), manifest)
      (n, fingerprints(manifest))
    }
    ok(rows == nScenes, s"manifest has $rows rows for $nScenes stores")
    val first = t.span("pipeline.materialize") {
      GridOpen.materializeZarrCatalogFromManifest(spark, manifest, "lwp", out)
    }
    ok(first.toSet == base.map(storeName).toSet,
      s"full materialize wrote ${first.size} scenes, expected $nScenes")

    t.span("sources.write") {
      ZarrSink.writeScenes(pixels(added, 0), cat, "lwp").count()
      ZarrSink.writeScenes(pixels(changed, 1), cat, "lwp").count()
    }
    val (diff, refreshed) = t.span("sources.manifest_refresh") {
      val d = CatalogManifest.refresh(spark, "zarr", cat, Seq("lwp"), manifest)
      val now = fingerprints(manifest)
      (d, now.keySet.filter(s => !built.get(s).contains(now(s))))
    }
    ok(diff == ((nNew, changed.size, 0, nScenes - changed.size)),
      s"refresh reported $diff, expected ($nNew, ${changed.size}, 0, ${nScenes - changed.size})")
    val expect = (added ++ changed).map(storeName).toSet
    ok(refreshed == expect, s"refresh re-fingerprinted ${refreshed.toSeq.sorted.mkString(",")}, " +
      s"expected ${expect.toSeq.sorted.mkString(",")}")
    // as a user's job would: drop the materialized partitions of the
    // stores the manifest now records as changed, so the incremental
    // materialize rewrites them
    refreshed.foreach(s => deleteTree(java.nio.file.Paths.get(out, s"scene=$s")))
    val second = t.span("pipeline.materialize") {
      GridOpen.materializeZarrCatalogFromManifest(spark, manifest, "lwp", out)
    }
    ok(second.toSet == expect && second.size == expect.size,
      s"incremental materialize wrote ${second.sorted.mkString(",")}, expected ${expect.toSeq.sorted.mkString(",")}")
    t.count("pipeline.materialize.scenes_new", second.size)
    t.count("pipeline.materialize.scenes_skipped", nScenes + nNew - second.size)
    PassResult(nScenes + nNew, ok)
  }

  override def cleanup(index: Int): Unit = deleteTree(ctx.dir("ingest", s"p$index"))
}

// ---------------------------------------------------------------------------

/** Scene tiles: the reference flow over a prebuilt catalog of 192 x 192
  * scenes. Manifest-planned open with a time and bbox crop, regrid,
  * triplet sampling, tile gather with per-tile sums, sliding windows
  * embedded by an ONNX MLP, and an as-of join of an aux field followed by
  * 2-D binning. */
final class SceneTiles(ctx: Ctx) extends Workload {
  import ctx.spark
  val itemName = "tiles"
  private val G = 192
  private val dx = 1000.0
  private val nScenes = 4 * ctx.cores
  private val nTriplets = 8 * ctx.cores
  private val tileM = 32000.0
  private val crop = 64000.0
  /** Coarse grid the regrid produces: 8 km cells over the crop. */
  private val coarseN = (2 * crop / 8000.0).toInt
  private val windowsPerScene = { val a = (coarseN - 4) / 2 + 1; a * a }
  def inputBytes: Long = nScenes.toLong * G * G * 8

  private def coord(i: Int): Double = (i - G / 2 + 0.5) * dx
  /** Scene day of month, 1-8; the time crop keeps days 1-6, so 3/4 of
    * the scenes survive at every seed. */
  private def day(k: Int): Int = 1 + k % 8
  private var manifest: String = _

  private def writeStore(dir: Path, k: Int): Unit = {
    val store = dir.resolve(f"t$k%04d.zarr")
    Files.createDirectories(store)
    Files.writeString(store.resolve(".zgroup"), """{"zarr_format": 2}""")
    def array(name: String, shape: Seq[Int], chunks: Seq[Int], dims: Seq[String],
        attrs: String)(chunkValues: Seq[Int] => Array[Double]): Unit = {
      val d = store.resolve(name)
      Files.createDirectories(d)
      Files.writeString(d.resolve(".zarray"),
        s"""{"zarr_format": 2, "shape": [${shape.mkString(", ")}], "chunks": [${chunks.mkString(", ")}],
           | "dtype": ">f8", "compressor": null, "fill_value": "NaN", "filters": null,
           | "order": "C"}""".stripMargin)
      Files.writeString(d.resolve(".zattrs"),
        s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(", ")}]$attrs}""")
      val grid = shape.zip(chunks).map { case (n, c) => (n + c - 1) / c }
      def cells(g: Seq[Int]): Seq[Seq[Int]] =
        g.foldLeft(Seq(Seq.empty[Int]))((acc, n) => acc.flatMap(p => (0 until n).map(p :+ _)))
      cells(grid).foreach { ci =>
        val vs = chunkValues(ci)
        val bb = java.nio.ByteBuffer.allocate(vs.length * 8)
        vs.foreach(bb.putDouble)
        Files.write(d.resolve(ci.mkString(".")), bb.array())
      }
    }
    val band = G / 4
    array("lwp", Seq(1, G, G), Seq(1, band, G), Seq("time", "y", "x"), "") { ci =>
      Array.tabulate(band * G)(o => Inputs.pixel(ctx.seed, k, ci(1) * band + o / G, o % G))
    }
    array("time", Seq(1), Seq(1), Seq("time"),
      s""", "units": "hours since 2021-07-${f"${day(k)}%02d"}"""")(_ => Array(12.0))
    array("y", Seq(G), Seq(G), Seq("y"), "")(_ => Array.tabulate(G)(coord))
    array("x", Seq(G), Seq(G), Seq("x"), "")(_ => Array.tabulate(G)(coord))
  }

  def prepare(rep: Int): Unit = {
    val dir = ctx.dir("tiles", s"r$rep")
    deleteTree(dir)
    (0 until nScenes).foreach(writeStore(dir, _))
    manifest = dir.resolve("_manifest").toString
    CatalogManifest.build(spark, "zarr", dir.toString, Seq("lwp"), manifest)
  }

  private val timeBounds = Map("time" -> ("2021-07-01 00:00:00", "2021-07-06 23:00:00"))
  private val bounds = Map("x" -> (-crop, crop), "y" -> (-crop, crop))
  private val model = new Onnx.OnnxModel(OnnxWriter.mlpModelBytes(16, 8, 4))

  def pass(t: Tracer, index: Int): PassResult = {
    val ok = new Checks
    val survivors = (0 until nScenes).count(day(_) <= 6)

    val (px, scenes) = t.span("sources.open") {
      val (p, s) = GridOpen.zarrCatalogWithScenesFromManifest(spark, manifest, "lwp",
        bounds = bounds, timeBounds = timeBounds)
      val n = s.count()
      ok(n == survivors, s"open kept $n scenes, expected $survivors")
      t.count("sources.open.survivor_ratio", n.toDouble / nScenes)
      val sceneId = element_at(split(col("path"), "/"), -1).as("scene_id")
      (t.keep(p.select(sceneId, col("time"), col("y"), col("x"), col("value"))), s.select(sceneId))
    }

    val coarse = t.span("operators.regrid") {
      val src = Regrid.GridDef(-G / 2 * dx, dx, G, -G / 2 * dx, dx, G)
      val dst = Regrid.GridDef(-crop, 8000.0, coarseN, -crop, 8000.0, coarseN)
      val w = Regrid.bilinearWeights(spark, src, dst)
      t.keep(Regrid.applyWeights(
        px.withColumn("src_i", floor((col("x") + G / 2 * dx) / dx).cast("int"))
          .withColumn("src_j", floor((col("y") + G / 2 * dx) / dx).cast("int")),
        w, Seq("scene_id", "time")))
    }

    val specs = t.span("operators.triplets") {
      val split = scenes.withColumn("collection",
        Triplets.splitScenes(col("scene_id"), ctx.seed, Seq("train" -> 0.8, "study" -> 0.2)))
      val triplets = spark.range(0, nTriplets).select(col("id").as("triplet_id"))
        .withColumn("collection", lit("train"))
      val paired = Triplets.pairScenes(split, triplets, ctx.seed)
      t.keep(Triplets.tileSpecs(paired, Domain(13.3, -57.5, 2 * crop, 2 * crop),
          tileSizeM = tileM, neighDistScaling = 0.5, seed = ctx.seed)
        .select(col("scene_id"),
          Triplets.tripletTileId(col("triplet_id"), col("tile_type")).as("tile_id"),
          (col("x") - tileM / 2).as("x0"), (col("y") - tileM / 2).as("y0")))
    }

    val tiles = t.span("operators.gather") {
      val r = TensorOps.gatherTiles(px.select("scene_id", "x", "y", "value"), specs,
          tileSizeM = tileM, cellSizeM = tileM)
        .groupBy("scene_id", "tile_id", "x0", "y0")
        .agg(sum("value").as("sum_v"), count(lit(1)).as("n_px"))
        .collect()
      t.count("operators.gather.rows", r.map(_.getLong(5)).sum.toDouble)
      r
    }
    ok(tiles.length == 3 * nTriplets, s"gathered ${tiles.length} tiles, expected ${3 * nTriplets}")
    ok.later(tiles.foreach { r =>
      val k = r.getString(0).stripPrefix("t").stripSuffix(".zarr").toInt
      val (x0, y0) = (r.getDouble(2), r.getDouble(3))
      val is = (0 until G).filter(i => coord(i) >= x0 && coord(i) < x0 + tileM)
      val js = (0 until G).filter(j => coord(j) >= y0 && coord(j) < y0 + tileM)
      val want = Inputs.pixelSum(ctx.seed, k, js.head, js.last + 1, is.head, is.last + 1)
      ok(r.getDouble(4) == want && r.getLong(5) == is.size.toLong * js.size,
        s"tile ${r.getString(1)} of ${r.getString(0)}: sum ${r.getDouble(4)} n ${r.getLong(5)}, " +
          s"expected $want n ${is.size * js.size}")
    })

    val emb = t.span("embeddings.infer") {
      val windows = Tiler.tileSpecs(scenes.withColumn("n", lit(coarseN)), col("n"), col("n"),
          tileN = 4, step = 2)
        .select(col("scene_id"), col("tile_id").cast("long").as("tile_id"),
          (col("i0") * 8000.0).as("x0"), (col("j0") * 8000.0).as("y0"))
      val cells = coarse.select(col("scene_id"), col("time"),
        (col("dst_i") * 8000.0).as("x"), (col("dst_j") * 8000.0).as("y"), col("value"))
      val vecs = TensorOps.gatherTiles(cells, windows, tileSizeM = tileM, cellSizeM = tileM)
        .withColumn("pos", floor((col("y") - col("y0")) / 8000.0).cast("int") * 4 +
          floor((col("x") - col("x0")) / 8000.0).cast("int"))
        .groupBy("scene_id", "tile_id", "time")
        .agg(expr("transform(array_sort(collect_list(struct(pos, value))), p -> p.value)")
          .as("values"))
        .withColumn("tid", struct(col("scene_id"), col("tile_id"), col("time")))
      t.keep(Inference.embedTiles(vecs, "tid", "values", model)
        .select(col("tile_id.scene_id").as("scene_id"), col("tile_id.tile_id").as("tile_id"),
          col("tile_id.time").as("time"), element_at(col("emb"), 1).cast("double").as("e0")))
    }

    val bins = t.span("operators.colocate") {
      val aux = spark.range(0, 8 * 24).select(
        (lit(java.sql.Timestamp.valueOf("2021-07-01 00:00:00")) +
          make_interval(lit(0), lit(0), lit(0), lit(0), col("id").cast("int"))).as("aux_time"),
        (pmod(col("id") * 37L + lit(ctx.seed), lit(100L)) * 3.0).as("aux_v"))
      val joined = AsOfJoin.nearestWithin(emb, aux, "time", "aux_time",
        halfWindowUs = 30L * 60 * 1000000, probeKey = Seq("scene_id", "tile_id"),
        broadcastBuild = true)
      Binning.bin2d(joined, col("aux_v"), 30.0, col("e0"), 50.0, col("e0"), 1L).collect()
    }
    val embedded = bins.map(_.getAs[Long]("n")).sum
    t.count("embeddings.infer.tiles", embedded.toDouble)
    ok(embedded == survivors.toLong * windowsPerScene,
      s"embedded $embedded windows, expected ${survivors * windowsPerScene}")
    PassResult(tiles.length + embedded, ok)
  }
}

// ---------------------------------------------------------------------------

/** Text dedup: clean and tokenize a Zipf-vocabulary corpus with planted
  * near-duplicate clusters, find near-duplicate pairs by MinHash LSH,
  * group them into components and keep one document per component. */
final class TextDedup(ctx: Ctx) extends Workload {
  import ctx.spark
  val itemName = "docs"
  private val corpus = Inputs.Corpus(ctx.seed, 2500 * ctx.cores)
  private val threshold = 0.6
  private val (k, bands) = (50, 10)
  private var path: String = _
  private var planted: Set[(Long, Long)] = Set.empty
  private var recallFloor = 0.0
  def inputBytes: Long = (0 until corpus.n by 97).map(i => corpus.raw(i.toLong).length.toLong).sum * 97

  def prepare(rep: Int): Unit = {
    val dir = ctx.dir("text", s"r$rep")
    deleteTree(dir)
    path = dir.resolve("corpus.parquet").toString
    val c = corpus
    import spark.implicits._
    spark.range(c.n).as[Long].map(id => (id, c.raw(id))).toDF("doc_id", "raw")
      .write.parquet(path)
    // planted pairs at or above the threshold, and the recall LSH should
    // reach on them: 90% of the mean banding S-curve 1 - (1 - J^r)^b
    val pairs = for {
      ids <- corpus.clusterIds
      sh = ids.map(i => i -> Inputs.shingles(corpus.clean(i))).toMap
      Seq(a, b) <- ids.sorted.combinations(2)
      j = Inputs.jaccard(sh(a), sh(b)) if j >= threshold
    } yield ((a, b), j)
    planted = pairs.map(_._1).toSet
    val r = k / bands
    recallFloor = 0.9 * pairs.map { case (_, j) => 1 - math.pow(1 - math.pow(j, r), bands) }.sum /
      math.max(1, pairs.size)
  }

  def pass(t: Tracer, index: Int): PassResult = {
    val ok = new Checks
    val docs = spark.read.parquet(path)

    val cleaned = t.span("functions.clean") {
      t.keep(docs.select(col("doc_id"),
          array_join(TextAnalysis.tokens(col("raw")), " ").as("text"))
        .where(TextAnalysis.tokenCount(col("text")) >= 5))
    }

    val (pairs, found) = t.span("operators.lsh") {
      val p = t.cache(Dedup.lshNearDupPairs(cleaned, "doc_id", "text", k, bands, threshold))
      val local = p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val recall = local.count(x => planted((x._1, x._2))).toDouble / math.max(1, planted.size)
      t.count("operators.lsh.pairs", local.length)
      t.count("operators.lsh.recall", recall)
      ok(recall >= recallFloor, f"LSH recall $recall%.4f below the planted-cluster floor $recallFloor%.4f")
      (p, local)
    }
    val sample = new java.util.SplittableRandom(Inputs.mix(ctx.seed, index))
    ok.later((0 until math.min(200, found.length)).foreach { _ =>
      val (a, b, j) = found(sample.nextInt(found.length))
      val exact = Inputs.jaccard(Inputs.shingles(corpus.clean(a)), Inputs.shingles(corpus.clean(b)))
      ok(exact >= threshold && math.abs(exact - j) < 1e-9,
        s"pair ($a, $b) reported Jaccard $j, recomputed $exact")
    })

    val (labelsDf, labels) = t.span("operators.cc") {
      val from = System.currentTimeMillis()
      val l = t.keep(Dedup.connectedComponentsAltStar(pairs, "doc_a", "doc_b"))
      val local = l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // one convergence test per round: count the alt-star loop's
      // emptiness checks run inside this span
      if (t.on) t.count("operators.cc.rounds", t.sqlCalls(from, "isEmpty at Dedup".r))
      (l, local)
    }
    // components must be the connected components of the reported pairs
    ok.later {
      val uf = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = uf.getOrElse(x, x)
        if (p == x) x else { val r = find(p); uf(x) = r; r }
      }
      found.foreach { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) uf(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = found.flatMap(p => Seq(p._1, p._2)).distinct
      ok(labels.size == nodes.length && nodes.forall(n => labels.get(n).contains(find(n))),
        s"components disagree with the pairs' union-find (${labels.size} labels, ${nodes.length} nodes)")
    }

    val removed = t.span("operators.keep") {
      val reps = labelsDf.join(cleaned.select(col("doc_id").as("node"), length(col("text")).as("len")), "node")
        .groupBy("component")
        .agg(max_by(col("node"), struct(col("len"), -col("node"))).as("rep"))
      val drop = labelsDf.join(reps, "component").where(col("node") =!= col("rep")).select(col("node"))
      val keptDocs = cleaned.join(drop, cleaned("doc_id") === drop("node"), "left_anti")
      keptDocs.write.parquet(ctx.dir("text", s"kept-p$index").toString)
      drop.collect().map(_.getLong(0)).toSet
    }
    ok.later {
      val byComp = labels.groupBy(_._2).values.map(_.keys.toSeq)
      val expectRemoved = byComp.flatMap { ms =>
        val rep = ms.maxBy(m => (corpus.clean(m).length, -m))
        ms.filter(_ != rep)
      }.toSet
      ok(removed == expectRemoved, s"keep-one removed ${removed.size} docs, expected ${expectRemoved.size}")
    }
    PassResult(corpus.n, ok)
  }

  override def cleanup(index: Int): Unit = deleteTree(ctx.dir("text", s"kept-p$index"))
}
