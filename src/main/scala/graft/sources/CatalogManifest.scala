package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted catalog manifest — the reference's scene DB re-expressed
  * as a Parquet table of per-store grid metadata.
  *
  * The reference persists exactly this information once and plans from
  * it forever after: convml-data builds a per-scene source database
  * (pipeline/scene_sources.py:96-156) behind a skip-if-present DB
  * target (utils/luigi.py:91-117), so repeat pipeline runs never
  * re-probe the raw stores. The live `GridOpen.catalog` opens instead
  * re-read every store's KB-scale coordinate metadata per query —
  * fine at 100 scenes, minutes of driver latency at a 10^5-scene
  * 100 TB catalog. This module closes that gap:
  *
  *  - [[build]] scans each store's metadata ONCE — driver-side parMap
  *    wave below `distributeAbove` stores, a SPARK JOB above it (the
  *    coords never transit the driver, wall clock bounded by executor
  *    count) — and writes one Parquet row per (store, variable):
  *    raw axes (names, units, calendar, coordinate values), pack
  *    attrs, and a change-detection fingerprint.
  *  - [[planVarsStores]] plans a catalog crop from the manifest with ZERO
  *    per-store storage reads: phase 1 reads only per-store axis
  *    SUMMARIES (units/calendar/min/max — scalars, not coords) to
  *    resolve the caller's bounds per store and prune stores whose
  *    envelopes provably miss; phase 2 reads full coordinates for the
  *    SURVIVORS only, through a pushed `store IN (...)` parquet read.
  *  - [[refresh]] re-stats the current stores (one LIST/HEAD
  *    fingerprint wave, no metadata reads) and re-scans ONLY new or
  *    changed stores, keeping unchanged rows verbatim and dropping
  *    vanished ones — the mtime/etag invalidation story.
  *
  * Axes persist in RAW form ([[GridOpen.RawAxis]] — the store's own
  * `units`/`calendar` strings): classification to TIMESTAMP /
  * calendar-datetime / plain happens on LOAD, so a manifest built
  * today replays tomorrow's decode rules.
  */
object CatalogManifest {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"catalog manifest: $msg")

  /** One manifest row: one (store, variable)'s raw axes, pack attrs,
    * and change-detection fingerprint ([[ByteStore.treeStat]]).
    * `requestedVars` records the variable set the scan ASKED for —
    * a store with no row for a requested variable genuinely lacks it,
    * which is what lets [[refresh]] keep unchanged rows verbatim
    * (and forces a full re-scan when the requested set changes). */
  final case class Entry(store: String, variable: String,
      format: String, dir: String,
      fpMtime: Long, fpBytes: Long, fpCount: Long, fpHash: Long,
      axes: Seq[GridOpen.RawAxis],
      scale: Double, offset: Double, fill: Option[Double],
      unsignedModulus: Option[Double],
      requestedVars: Seq[String])

  /** One store's change fingerprint, [[ByteStore.treeStat]]'s shape:
    * (max mtime, total bytes, file count, per-file XOR hash). */
  private type Fp = (Long, Long, Long, Long)

  /** Fingerprint comparison with legacy awareness: a stored hash of 0
    * marks a pre-hash manifest row (the [[withCompat]] default) — the
    * comparison then falls back to the aggregate triple, exactly the
    * pre-upgrade behavior. Used by the read-side STALENESS guards only;
    * [[refresh]] treats hash-less rows as changed outright (re-scan),
    * so the upgrade never launders a triple-blind-spot change. */
  private def fpChanged(old: Fp, cur: Fp): Boolean =
    if (old._4 == 0L) (old._1, old._2, old._3) != ((cur._1, cur._2, cur._3))
    else old != cur

  /** Scan ONE store's metadata into manifest rows — only the requested
    * variables it actually holds (membership is per variable, so a
    * catalog can hold heterogeneous scene files). */
  private def scanStore(format: GridFormat, dir: String, store: String,
      variables: Seq[String]): Seq[Entry] = {
    val present = format.variablesIn(store)
    val (mt, bytes, count, fh) = ByteStore.treeStat(store)
    val sortedVars = variables.sorted
    variables.filter(present).map { v =>
      val a = format.cfAttrs(store, v)
      Entry(store, v, format.name, dir, mt, bytes, count, fh,
        format.rawAxes(store, v), a.scale, a.offset, a.fill,
        a.unsignedModulus, sortedVars)
    }
  }

  // ---- generational, rename-free persistence -----------------------------
  // The manifest is PUBLISHED, never overwritten in place: each
  // build/refresh writes a complete new generation directory
  // (`_gen-NNNNNNNN/` parquet) and then flips a tiny pointer object
  // (`_current`) — the only mutation a reader can ever observe, and a
  // single-object PUT (atomic on object stores; no rename anywhere).
  // A crash mid-publish leaves the pointer on the old, COMPLETE
  // generation — the partial new one is an orphan the next publish
  // overwrites; a reader concurrent with a refresh serves whichever
  // complete generation the pointer named when it resolved. The
  // previous generation is retained for one publish as a grace window
  // for in-flight readers; older ones are deleted AFTER the flip.
  // Underscore-prefixed names are invisible to plain parquet readers,
  // so a legacy in-place manifest migrates live: its top-level data
  // files keep serving until the pointer exists, and are removed only
  // after the flip. (The generation parquet itself goes through
  // Spark's configured output committer — on a real object store that
  // is the rename-free S3A committer, outside this layer's scope.)
  //
  // WRITERS are single-writer by contract — and the contract is now
  // ENFORCED, not just documented, at three seams:
  //  1. SAME-generation races: each publish writes a `_claim-NNNNNNNN`
  //     marker carrying a writer-unique token before its generation
  //     write and re-reads it after, refusing loudly (domain error, no
  //     pointer flip) when another writer claimed the same generation
  //     in between. Generation directories are WRITER-UNIQUE
  //     (`_gen-NNNNNNNN-<token>`): two racers to the same number write
  //     DISJOINT directories, so neither can delete or corrupt the
  //     other's in-flight files and readers resolving the pointer NEVER
  //     see a partially (re)written directory — the loser's complete-
  //     but-unreferenced directory is an orphan the retention sweep
  //     ages out.
  //  2. CROSS-generation lost updates: a refresh carries the generation
  //     it LOADED into its publish, which refuses (before writing
  //     anything) when the pointer has moved — a slow refresher that
  //     loaded gen N while a fast one published N+1 must not claim N+2
  //     unopposed and silently discard N+1's rows.
  //  3. Post-flip verification: after flipping, the publisher re-reads
  //     the pointer and fails loudly when it no longer names its own
  //     generation (a racer flipped in between; the racer's generation
  //     is the one readers see, complete).
  // The RESIDUAL window: a racer's flip landing AFTER this writer's
  // post-flip verification passed — the writer already returned
  // success, so its rows are buried silently. (Both racers flipping
  // BEFORE either verifies is the loud case: the first verifier sees
  // the other's directory and fails.) Closing the residual needs a
  // compare-and-swap the pointer seam doesn't have, so the
  // single-writer contract (run ONE refresher, like the reference's
  // one luigi scheduler owning the scene DB) remains the real
  // guarantee; the three checks above turn every wider interleaving
  // into a loud domain error. Readers are unlimited and never
  // coordinate; legacy unsuffixed `_gen-NNNNNNNN` pointers keep
  // resolving.

  private val Pointer = "_current"
  /** Pointer/dir-name shape: generation number + optional writer
    * token (legacy manifests lack the suffix). */
  private val GenRe = "_gen-(\\d{8})(?:-[0-9a-f]{8})?".r
  private def genDirName(n: Int, token: String): String =
    f"_gen-$n%08d-${token.take(8)}"
  private def claimName(n: Int): String = f"_claim-$n%08d"

  /** How many generations BEHIND the current one publish retains as a
    * grace window for in-flight readers (older ones are deleted after
    * the pointer flip). The default 1 survives a reader stalled across
    * one publish; raise it for catalogs with long-running readers
    * concurrent with frequent refreshes. Clamped to >= 1 — retention 0
    * would delete the generation a just-redirected reader still holds. */
  @volatile var retainGenerations: Int = 1

  /** Test seam: invoked between a publish's generation write and its
    * claim verification — the window a racing writer lands in. */
  private[graft] var onGenerationWritten: () => Unit = () => ()

  /** Test seam: invoked after a refresh LOADS the current generation,
    * before it publishes — the window a faster refresher's whole
    * load-to-flip cycle lands in (the cross-generation race). */
  private[graft] var onManifestLoaded: () => Unit = () => ()

  /** Test seam: invoked between a publish's pointer flip and its
    * post-flip verification — the window a racing flip lands in. */
  private[graft] var onPointerFlipped: () => Unit = () => ()

  /** The per-axis summary projection (the persisted `axs` column):
    * everything phase 1 needs, WITHOUT the coordinate arrays. Written
    * at publish time so a phase-1 scan reads a few scalar bytes per
    * store — parquet column pruning keeps plan cost independent of
    * axis length — and computed on read for pre-`axs` manifests
    * ([[withCompat]]). */
  private val SummarySql =
    "transform(axes, a -> struct(a.k as k, a.name as name, " +
      "a.units as units, a.calendar as calendar, " +
      "array_min(a.coords) as mn, array_max(a.coords) as mx, " +
      "coalesce(size(a.coords), -1) as n))"

  /** The pointed (generation number, directory name), None for a
    * legacy (pre-generational) manifest. An empty/garbled pointer
    * retries ONCE before failing: on filesystems without atomic
    * small-object replacement an uncoordinated reader could catch a
    * pointer mid-write, and one re-read outlasts any tiny-file
    * write. */
  private def currentGen(manifestPath: String): Option[(Int, String)] = {
    val p = ByteStore.join(manifestPath, Pointer)
    if (!ByteStore.isFile(p)) None
    else {
      def readGen(): String = ByteStore.readString(p).trim
      def parse(g: String): Option[(Int, String)] = g match {
        case GenRe(n) => Some((n.toInt, g))
        case _ => None
      }
      var g = readGen()
      if (parse(g).isEmpty) { Thread.sleep(25); g = readGen() }
      Some(parse(g).getOrElse(fail(s"corrupt generation pointer $p: '$g'")))
    }
  }

  /** The pointer flip. On an object store one small-object PUT is
    * atomic — THE publish point by design. A plain truncate-then-write
    * on a LOCAL path is NOT (a concurrent reader can observe an empty
    * or partial pointer), so the local branch stages a temp sibling and
    * renames it into place — rename(2) of a tiny file replaces
    * atomically, and this rename never touches the object-store seam
    * the sinks keep rename-free. */
  private def writePointer(path: String, gen: String): Unit = {
    // BOTH local shapes take the atomic branch: scheme-less paths AND
    // `file:` URIs, which Hadoop's LocalFileSystem would also
    // truncate-then-write. A `file:` pointer previously written
    // through Hadoop may carry a checksum sidecar; the NIO rewrite
    // deletes it so later Hadoop reads don't fail on a stale crc.
    val local: Option[String] =
      if (!ByteStore.hasScheme(path)) Some(path)
      else scala.util.Try(new java.net.URI(path)).toOption
        .filter(_.getScheme == "file").map(_.getPath)
    local match {
      case None => ByteStore.writeString(path, gen) // object store: one PUT
      case Some(lp) =>
        val target = java.nio.file.Paths.get(lp)
        val tmp = java.nio.file.Paths.get(lp + ".tmp")
        java.nio.file.Files.write(tmp,
          gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        Option(target.getParent).foreach { d =>
          java.nio.file.Files.deleteIfExists(
            d.resolve("." + target.getFileName.toString + ".crc"))
        }
        ()
    }
  }

  /** The parquet path holding the manifest's CURRENT rows: the pointed
    * generation when the pointer exists, the path itself for a legacy
    * in-place manifest. */
  private[sources] def dataPath(manifestPath: String): String =
    currentGen(manifestPath) match {
      case Some((_, dirName)) => ByteStore.join(manifestPath, dirName)
      case None => manifestPath
    }

  /** Read the manifest's current generation (raw stored schema), with
    * a BOUNDED vectorized batch: manifest rows carry coordinate ARRAYS
    * (MB-scale for long axes — 10^5 elements is 800 KB a row), and
    * Spark's default 4096-row columnar batch would buffer GBs per scan
    * task (the long-axes rehearsal OOM'd exactly there). The bound
    * lives on a DERIVED session (own SQLConf, shared SparkContext) so
    * the caller's session is never mutated; actions on the returned
    * frame plan under the derived session, which is what the batch
    * size is read from. 32-row batches cost ~3k batches per
    * 10^5-store phase-1 scan — noise. */
  def read(spark: SparkSession, manifestPath: String)
      : org.apache.spark.sql.DataFrame = {
    // a reader that resolved the pointer just before a publish's
    // cleanup deleted that generation re-resolves ONCE — the fresh
    // pointer names a complete generation. A reader stalled ACROSS
    // publishes longer than the [[retainGenerations]] grace window
    // still fails mid-scan (file-not-found); raise the retention for
    // long-running readers concurrent with frequent refreshes.
    val p = dataPath(manifestPath)
    val resolved = if (ByteStore.exists(p)) p else dataPath(manifestPath)
    boundedSession(spark).read.parquet(dataFilesOf(resolved): _*)
  }

  /** The concrete parquet data files under a resolved generation,
    * listed explicitly. Handing Spark the generation DIRECTORY trips
    * DataSource's "All paths were ignored" warning on every plan —
    * the name is deliberately underscore-prefixed so plain parquet
    * readers skip it during a legacy manifest's live migration, and
    * Spark's path screen flags any explicit underscore-named input
    * (cosmetically; the read still works). Listing the part files
    * sidesteps the noise without renaming anything; one extra LIST on
    * the metadata plane the pointer resolution already touched. Falls
    * back to the directory itself when no data files are visible (an
    * empty generation — let the parquet reader raise its own
    * diagnostic). */
  private def dataFilesOf(path: String): Seq[String] = {
    val files = ByteStore.list(path)
      .filter(e => !e.isDir && !e.name.startsWith("_") &&
        !e.name.startsWith("."))
      .map(_.path)
    if (files.isEmpty) Seq(path) else files
  }

  // one derived session per root session (building a SessionState per
  // read would tax every plan ~100 ms). Weakly keyed AND weakly valued
  // — an app that cycles newSession() roots must not have each one
  // (and its SessionState) pinned for the JVM's lifetime, and the
  // derived session strongly references its parent's state, so a
  // strong VALUE would keep even a weak key reachable forever — PLUS
  // one strong slot for the MOST RECENT root: between reads nothing
  // else holds the derived session, and a purely weak value would
  // evaporate on every full GC, re-paying the SessionState build the
  // cache exists to amortize. The strong slot pins at most ONE root
  // (the active one); a cycled root is evicted from it by its
  // successor and becomes collectable.
  private val boundedSessions =
    new java.util.WeakHashMap[SparkSession,
      java.lang.ref.WeakReference[SparkSession]]()
  @volatile private var lastBounded: (SparkSession, SparkSession) = null
  private[graft] def boundedSession(spark: SparkSession): SparkSession = {
    val last = lastBounded
    if (last != null && (last._1 eq spark)) return last._2
    val b = boundedSessions.synchronized {
      Option(boundedSessions.get(spark)).flatMap(r => Option(r.get))
        .getOrElse {
          val fresh = spark.newSession()
          fresh.conf.set("spark.sql.parquet.columnarReaderBatchSize", "32")
          boundedSessions.put(spark, new java.lang.ref.WeakReference(fresh))
          fresh
        }
    }
    lastBounded = (spark, b)
    b
  }
  /** Live cache entries (test observability for the no-pinning claim). */
  private[graft] def boundedSessionCount: Int =
    boundedSessions.synchronized(boundedSessions.size)

  private def load(spark: SparkSession, manifestPath: String)
      : org.apache.spark.sql.DataFrame =
    withCompat(read(spark, manifestPath))

  /** [[load]] plus the generation it resolved — captured from the SAME
    * pointer read that picked the data path, so a refresh's
    * optimistic-concurrency token can never disagree with the rows it
    * actually loaded (resolving the pointer twice would leave a window
    * where a concurrent publish lands between the two reads). `None`
    * for a legacy in-place manifest. */
  private def loadWithGen(spark: SparkSession, manifestPath: String)
      : (org.apache.spark.sql.DataFrame, Option[(Int, String)]) = {
    val cur = currentGen(manifestPath)
    val p = cur match {
      case Some((_, dirName)) => ByteStore.join(manifestPath, dirName)
      case None => manifestPath
    }
    // same ONE-shot re-resolve as [[read]]: a publish's cleanup may
    // have deleted the generation this pointer read named (a still-
    // missing path after the second resolve fails in the parquet read)
    val (eff, effGen) =
      if (cur.isEmpty || ByteStore.exists(p)) (p, cur)
      else {
        val again = currentGen(manifestPath)
        (again.map(c => ByteStore.join(manifestPath, c._2))
          .getOrElse(manifestPath), again)
      }
    (withCompat(boundedSession(spark).read.parquet(dataFilesOf(eff): _*)),
      effGen)
  }

  private def deleteTree(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Publish `df` as the manifest's next generation: write it
    * complete, flip the pointer, verify the flip landed, THEN clean up
    * (generations older than the retained previous one; a migrated
    * legacy manifest's top-level data files).
    *
    * `basedOn` is the optimistic-concurrency check for derived rows:
    * a refresh passes the (generation, directory) it LOADED (None
    * inside the option for a legacy manifest), and the publish refuses
    * — before writing anything — when the current pointer no longer
    * names that exact DIRECTORY. The writer-unique dir name, not the
    * number, is what identifies a generation: a same-number race can
    * re-claim an already-seen number with different rows under a
    * different token, and a number-only compare would slide past it.
    * A full rewrite ([[build]]) passes nothing: its rows derive from
    * the stores, not from a loaded generation, so "replace whatever is
    * current" is its correct semantics. */
  private def publish(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
      manifestPath: String,
      basedOn: Option[Option[(Int, String)]] = None): Unit = {
    val cur = currentGen(manifestPath)
    basedOn.foreach { loaded =>
      if (cur.map(_._2) != loaded.map(_._2))
        fail(s"manifest under $manifestPath advanced from generation " +
          s"${loaded.map(_._2).getOrElse("<legacy>")} to " +
          s"${cur.map(_._2).getOrElse("<none>")} since this " +
          "refresh loaded it — publishing rows derived from the stale " +
          "generation would silently discard the newer one's updates; " +
          "re-run the refresh (writers are single-writer by contract)")
    }
    val next = cur.map(_._1 + 1).getOrElse(0)
    // claim the generation before writing it: a second writer racing to
    // the same number overwrites this marker, and the loser finds out
    // BEFORE flipping the pointer. The generation DIRECTORY itself is
    // writer-unique, so the racers' files never touch — readers can
    // never observe a partially rewritten pointed directory
    val claimPath = ByteStore.join(manifestPath, claimName(next))
    val token = java.util.UUID.randomUUID().toString.replace("-", "")
    ByteStore.writeString(claimPath, token)
    val genDir = genDirName(next, token)
    df.drop("axs").withColumn("axs", expr(SummarySql))
      .write.mode("overwrite") // overwrite: THIS writer's own retry orphan
      .parquet(ByteStore.join(manifestPath, genDir))
    onGenerationWritten()
    // only a provably MISSING claim (the winner already published and
    // swept it) or a different token is a lost race; a transient I/O
    // failure on the re-read must surface as itself — misdiagnosing a
    // throttle as "another writer" would discard a completed publish
    val stillMine =
      try ByteStore.isFile(claimPath) && ByteStore.readString(claimPath) == token
      catch { case _: java.io.FileNotFoundException => false }
    if (!stillMine)
      fail(s"lost the publish race for generation $next under " +
        s"$manifestPath — another writer claimed the same generation " +
        "(writers are single-writer by contract: run ONE build/refresh " +
        "at a time; the winner's publish is complete and readable)")
    // THE publish point: one atomic pointer replacement
    writePointer(ByteStore.join(manifestPath, Pointer), genDir)
    onPointerFlipped()
    // post-flip verification: a racer that flipped between this
    // writer's claim check and here overwrote the pointer — the racer's
    // generation is the one readers see (complete, writer-unique dir),
    // and THIS writer's rows were not published; fail loudly instead of
    // returning success. The re-read is read-your-writes on both seams
    // (local ATOMIC_MOVE; object-store PUT). The residual silent window
    // is a racer flipping AFTER this re-read passes (this writer has
    // already returned success by then) — the single-writer contract
    // covers that last window.
    val pointed = currentGen(manifestPath)
    if (!pointed.exists(_._2 == genDir))
      fail(s"pointer under $manifestPath names " +
        s"${pointed.map(_._2).getOrElse("<none>")} immediately after this " +
        s"publish flipped it to $genDir — another writer raced this one " +
        "past the claim check; its generation is complete and readable, " +
        "this writer's rows were NOT published (writers are single-writer " +
        "by contract: run ONE build/refresh at a time)")
    ByteStore.deleteFile(claimPath)
    val keepFrom = next - math.max(1, retainGenerations)
    ByteStore.list(manifestPath).foreach { e =>
      val claim = "_claim-(\\d{8})".r
      e.name match {
        case GenRe(n) if e.isDir && n.toInt < keepFrom =>
          deleteTree(spark, e.path) // older than the grace window
        case claim(n) if !e.isDir && n.toInt < next =>
          ByteStore.deleteFile(e.path) // a crashed publish's orphan claim
          ()
        case Pointer => ()
        // the migrated legacy parquet's data files ONLY (part files,
        // their .crc siblings, the _SUCCESS marker) — never arbitrary
        // files a caller may have colocated at a mispointed path
        case n if !e.isDir && cur.isEmpty &&
            (n.startsWith("part-") || n.startsWith(".part-") ||
              n.startsWith("_SUCCESS") || n.startsWith("._SUCCESS")) =>
          ByteStore.deleteFile(e.path)
          ()
        case _ => ()
      }
    }
  }

  /** Build the manifest for `variables` under `dir` (a full rewrite,
    * published as a new generation). Returns the row count written. */
  def build(spark: SparkSession, format: String, dir: String,
      variables: Seq[String], manifestPath: String,
      distributeAbove: Int = 512): Long = {
    val fmt = GridFormat.named(format)
    require(variables.nonEmpty, "catalog manifest: no variables requested")
    val stores = fmt.stores(dir)
    require(stores.nonEmpty, s"catalog manifest: no stores under $dir")
    publish(spark,
      entriesFor(spark, fmt, dir, stores, variables, distributeAbove).toDF(),
      manifestPath)
    read(spark, manifestPath).count()
  }

  /** The metadata wave over `stores`: parMap on the driver below the
    * threshold, a distributed Spark job above it. */
  private def entriesFor(spark: SparkSession, format: GridFormat, dir: String,
      stores: Seq[String], variables: Seq[String],
      distributeAbove: Int): Dataset[Entry] = {
    import spark.implicits._
    if (stores.size <= distributeAbove)
      spark.createDataset(
        ByteStore.parMap(stores)(s => scanStore(format, dir, s, variables))
          .flatten)
    else {
      val snap = ByteStore.confSnapshot(spark)
      val (f, d, vs) = (format, dir, variables)
      spark.createDataset(stores)
        .repartition(math.max(1, math.min(512, stores.size / 32)))
        .mapPartitions { it =>
          ByteStore.install(snap) // executor JVMs have no session
          it.flatMap(s => scanStore(f, d, s, vs))
        }
    }
  }

  /** Incremental refresh: one fingerprint wave over the CURRENT store
    * listing (LIST/HEAD round trips only — unchanged stores' metadata
    * is never re-read), then re-scan ONLY new or changed stores,
    * keep unchanged rows verbatim, drop vanished stores. A DIFFERENT
    * `variables` set than the manifest was built with forces a full
    * re-scan — keeping unchanged rows would silently omit the new
    * variables' data from every later query. Returns
    * (added, changed, removed, unchanged) store counts. */
  def refresh(spark: SparkSession, format: String, dir: String,
      variables: Seq[String], manifestPath: String,
      distributeAbove: Int = 512): (Int, Int, Int, Int) = {
    val fmt = GridFormat.named(format)
    require(variables.nonEmpty, "catalog manifest: no variables requested")
    val (old, loadedGen) = loadWithGen(spark, manifestPath)
    onManifestLoaded()
    val oldVars = old.select("requestedVars").distinct().collect()
      .flatMap(_.getSeq[String](0)).toSet
    val sameVars = oldVars == variables.toSet
    val stores = fmt.stores(dir)
    // the old-vs-current diff runs as a FRAME JOIN ([[diffFp]]): the
    // per-store fingerprints never materialize in driver maps — the
    // driver collects only the added+changed names (the re-scan list)
    // and the four counts, O(changed) rows on a 10^6-store catalog
    val oldFp = old
      .select("store", "fpMtime", "fpBytes", "fpCount", "fpHash").distinct()
    val (added, changed, removed, unchangedN, unchangedFp, diff) =
      diffFp(spark, oldFp, fpWaveDf(spark, stores), sameVars,
        legacyHashTripleFallback = false)
    try {
      val fresh = entriesFor(spark, fmt, dir, added ++ changed, variables,
        distributeAbove)
      // kept rows' fp columns refresh from the wave already run — a
      // kept row is always hash-verified (legacy hash-less rows re-scan
      // outright), so the values are identical by construction
      val keep = old.join(unchangedFp, Seq("store"), "inner")
        .withColumn("fpMtime", col("__mt")).withColumn("fpBytes", col("__by"))
        .withColumn("fpCount", col("__n")).withColumn("fpHash", col("__h"))
        .drop("__mt", "__by", "__n", "__h")
      // generational publish: the union plan reads the CURRENT generation
      // and writes a NEW one, so there is no read-and-overwrite hazard
      // and no window with no readable manifest — the pointer flips only
      // after the new generation is complete, and `basedOn` refuses the
      // flip when another writer published since this refresh loaded.
      // `axs` drops before the union (fresh rows lack it); publish
      // recomputes it for every row.
      val keepCols = keep.drop("axs")
      publish(spark,
        keepCols.unionByName(fresh.toDF().select(keepCols.columns.map(col): _*)),
        manifestPath, basedOn = Some(loadedGen))
    } finally diff.release()
    (added.size, changed.size, removed, unchangedN.toInt)
  }

  /** Test observability: driver rows the last [[diffFp]] collected
    * (added+changed names plus the per-status counts) — CatalogManifestSpec
    * pins this O(changed), never O(catalog). */
  @volatile private[graft] var lastDiffCollected: Int = 0

  /** The old-vs-current fingerprint diff as a frame join — the
    * maintenance plane's mirror of the read path's survivors-only
    * discipline. A full-outer join on `store` derives each store's
    * status columnwise, and the driver collects ONLY the added+changed
    * names and the per-status counts. `!sameVars` marks every kept
    * store changed (a different requested-variable set forces a full
    * re-scan). `legacyHashTripleFallback` selects the read-guard
    * semantics for pre-hash rows (hash 0 compares the aggregate
    * triple, [[fpChanged]]); refresh passes false so legacy rows
    * re-scan outright — stamping a freshly computed hash onto a
    * triple-matched row would permanently launder a change in the
    * triple's blind spot (equal-size rename, offsetting growth) as
    * verified. Returns (added, changed, removed, unchanged,
    * unchangedFp, diff); the caller releases the cached `diff` once done
    * with `unchangedFp`, which reads through it. */
  private[graft] def diffFp(spark: SparkSession,
      oldFp: org.apache.spark.sql.DataFrame,
      curFp: org.apache.spark.sql.DataFrame, sameVars: Boolean,
      legacyHashTripleFallback: Boolean)
      : (Seq[String], Seq[String], Int, Long,
        org.apache.spark.sql.DataFrame, graft.core.Caching.Cached) = {
    val tripleDiffers = col("fpMtime") =!= col("__mt") ||
      col("fpBytes") =!= col("__by") || col("fpCount") =!= col("__n")
    val hashRowDiffers = tripleDiffers || col("fpHash") =!= col("__h")
    val changedCond =
      if (legacyHashTripleFallback)
        when(col("fpHash") === 0L, tripleDiffers).otherwise(hashRowDiffers)
      else col("fpHash") === 0L || hashRowDiffers
    // one fp row per store BEFORE the join: a corrupt manifest carrying
    // two DIFFERENT fp rows for one store would otherwise yield two
    // diff rows whose statuses can disagree — a store both re-scanned
    // AND kept duplicates rows in the published union. The old
    // driver-map diff collapsed such rows arbitrarily (last map put
    // wins); this collapses them the same way, visibly upstream.
    val diffC = graft.core.Caching.persist(oldFp.dropDuplicates("store")
      .join(curFp, Seq("store"), "full_outer")
      .withColumn("__status",
        when(col("__mt").isNull, "removed")
          .when(col("fpMtime").isNull, "added")
          // coalesce -> true: a NULL fp column (a corrupt or foreign-
          // written row) makes the comparison UNKNOWN, and unknown must
          // re-scan, not slide into "unchanged" — the old driver-map
          // diff failed loudly on such a row (getLong(NULL) threw); the
          // frame diff fails SAFE instead
          .when(lit(!sameVars) || coalesce(changedCond, lit(true)),
            "changed")
          .otherwise("unchanged")))
    val diff = diffC.df
    val toScan = diff.where(col("__status").isin("added", "changed"))
      .select("store", "__status").collect()
    val counts = diff.groupBy("__status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    lastDiffCollected = toScan.length + counts.size
    // belt-and-braces dedup (the per-store collapse upstream already
    // guarantees one diff row per store)
    val added = toScan.collect {
      case r if r.getString(1) == "added" => r.getString(0) }
      .toSeq.distinct.sorted
    val changed = toScan.collect {
      case r if r.getString(1) == "changed" => r.getString(0) }
      .toSeq.distinct.sorted
    val unchangedFp = diff.where(col("__status") === "unchanged")
      .select("store", "__mt", "__by", "__n", "__h")
    (added, changed, counts.getOrElse("removed", 0L).toInt,
      counts.getOrElse("unchanged", 0L), unchangedFp, diffC)
  }

  /** Schema compatibility for manifests written before `requestedVars`
    * existed (the column defaults to empty, which [[refresh]] reads as
    * "unknown request set" and answers with a full re-scan) or before
    * `fpHash` existed (defaults to 0, which [[fpChanged]] reads as
    * "compare the aggregate triple" until a refresh upgrades the row).
    * A persisted artifact must stay readable across upgrades, not
    * error with a missing-column AnalysisException. */
  private def withCompat(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val a = if (df.columns.contains("requestedVars")) df
      else df.withColumn("requestedVars", typedlit(Seq.empty[String]))
    val b = if (a.columns.contains("fpHash")) a
      else a.withColumn("fpHash", lit(0L))
    if (b.columns.contains("axs")) b
    else b.withColumn("axs", expr(SummarySql)) // pre-axs: computed on read
  }

  // ---- plan-from-manifest ------------------------------------------------

  /** Phase-1 axis summary: everything except the coordinate ARRAY.
    * (Package-visible, not private — Catalyst's generated deserializer
    * needs bytecode access to the class.) */
  private[sources] final case class AxisSummary(k: Int, name: String,
      units: Option[String], calendar: Option[String],
      mn: Option[Double], mx: Option[Double], n: Int)
  private[sources] final case class VarSummary(store: String, variable: String,
      ax: Seq[AxisSummary])

  /** The DISTINCT (units, calendar) attribute pairs per time-bound
    * axis — the dispatch table [[envelopePushdown]] resolves bounds
    * through. A catalog has FEW distinct pairs (a handful of epochs/
    * calendars across any real archive), so this collect is tiny; the
    * scan reads only the summary column. Each pair resolves to its
    * numeric range driver-side; a pair that fails to resolve (non-time
    * units, an unsupported step or calendar, a bad bound string) maps
    * to None = keep-unconditionally, so the driver refine raises the
    * exact live error naming the store. */
  private[sources] def resolveTimeCombos(df: org.apache.spark.sql.DataFrame,
      timeBounds: Map[String, (String, String)])
      : Map[String, Seq[(Option[String], Option[String],
        Option[(Double, Double)])]] = {
    if (timeBounds.isEmpty) return Map.empty
    val names = timeBounds.keys.toSeq
    val combos = df.select(explode(col("axs")).as("a"))
      .select(col("a.name").as("name"), col("a.units").as("units"),
        col("a.calendar").as("calendar"))
      .where(col("name").isin(names: _*)).distinct().collect()
      .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
    combos.groupBy(_._1).map { case (name, cs) =>
      val (t0, t1) = timeBounds(name)
      name -> cs.toSeq.map { case (_, u, c) =>
        val range = try {
          u.filter(CfTime.looksLikeTimeUnits) match {
            case None => None // not a time axis: driver refine raises
            case Some(uu) =>
              CfTime.splitUnits(uu) // throws on month/year/typo'd steps
              if (CfTime.isStandardCalendar(c))
                Some(CfTime.numericRange(uu, t0, t1))
              else if (CfCalendar.supported(c.get))
                Some(CfCalendar.numericRange(uu, c.get, t0, t1))
              else None
          }
        } catch { case _: Exception => None }
        (u, c, range)
      }
    }
  }

  /** The DISTRIBUTED form of [[envelopeSurvives]] over the summary
    * column — phase 1's filter, so the driver collects SURVIVORS (plus
    * error-shaped rows), never the whole catalog. Strictly conservative
    * vs the driver test (the fuzz pins it): it keeps every store the
    * exact test keeps, plus
    *  - error-shaped rows (missing bound axis, NULL coords,
    *    unresolvable units) — collected so the driver refine raises
    *    the exact live error with the store's name;
    *  - NaN envelopes (kept, like the driver test).
    * NaN caution: Spark SQL orders NaN LARGEST, so `mn > hi` would be
    * TRUE for an all-NaN axis where the driver test keeps — the isnan
    * guards make both NaN cases explicit keeps. */
  private[sources] def envelopePushdown(
      bounds: Map[String, (Double, Double)],
      timeCombos: Map[String, Seq[(Option[String], Option[String],
        Option[(Double, Double)])]]): org.apache.spark.sql.Column = {
    def intersects(a: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      a("n") > 0 && (isnan(a("mn")) || isnan(a("mx")) ||
        !(a("mx") < lit(lo) || a("mn") > lit(hi)))
    def attrEq(c: org.apache.spark.sql.Column, v: Option[String]) =
      v.map(c === lit(_)).getOrElse(c.isNull)
    def missing(name: String) =
      size(filter(col("axs"), a => a("name") === lit(name))) === 0
    // keep = error-shaped on ANY bound axis OR envelope-pass on EVERY
    // bound axis. The error disjunct is NOT per-axis: a store whose
    // axis A provably misses the bounds but whose axis B is
    // error-shaped (absent, no coords, unresolvable time attrs) must
    // still collect, so the driver refine raises the exact live error
    // — the same one the small-catalog collect-all regime raises. A
    // per-axis And (error-or-pass per conjunct) would let A's prune
    // silently swallow B's error and make diagnostics regime-dependent.
    val numericPass = bounds.toSeq.sortBy(_._1).map { case (n, (lo, hi)) =>
      exists(col("axs"), a => a("name") === lit(n) && intersects(a, lo, hi))
    }
    val numericErr = bounds.keys.toSeq.sorted.map { n =>
      missing(n) ||
        exists(col("axs"), a => a("name") === lit(n) && a("n") < 0)
    }
    val timedPass = timeCombos.toSeq.sortBy(_._1).map { case (n, combos) =>
      exists(col("axs"), a => a("name") === lit(n) && {
        val tests = combos.collect { case (u, c, Some((lo, hi))) =>
          attrEq(a("units"), u) && attrEq(a("calendar"), c) &&
            intersects(a, lo, hi)
        }
        tests.reduceOption(_ || _).getOrElse(lit(false))
      })
    }
    val timedErr = timeCombos.toSeq.sortBy(_._1).map { case (n, combos) =>
      missing(n) || exists(col("axs"), a => a("name") === lit(n) && {
        val matches = combos.map { case (u, c, _) =>
          attrEq(a("units"), u) && attrEq(a("calendar"), c) }
        // unresolvable attrs (non-time units, unsupported step or
        // calendar, a bad bound string): the driver refine raises
        val unresolved = combos.zip(matches)
          .collect { case ((_, _, None), m) => m }
        // an attr pair outside the dispatch table (it cannot occur —
        // the combos come from this same generation — but stay sound):
        // collect, the driver refine decides
        a("n") < 0 ||
          unresolved.reduceOption(_ || _).getOrElse(lit(false)) ||
          !matches.reduce(_ || _)
      })
    }
    val errAny = (numericErr ++ timedErr)
      .reduceOption(_ || _).getOrElse(lit(false))
    val passAll = (numericPass ++ timedPass)
      .reduceOption(_ && _).getOrElse(lit(true))
    errAny || passAll
  }

  /** Phase-1 regime threshold: a catalog whose (store, variable) rows
    * fit under this just collects its summaries whole in ONE job (the
    * pushed path's combos + filter passes cost more than they save at
    * small scale — measured 0.33 s -> 0.96 s on the 120-store bench
    * fixture); above it the envelope prune runs inside the scan and
    * the driver sees survivors only. Mutable for tests only. */
  @volatile private[graft] var collectAllBelow: Int = 2048

  /** Phase-2 regime threshold on SURVIVOR coordinate cells: under it,
    * full rows collect directly (one job); above it, coordinate arrays
    * dedup through the grouped exchange so the driver holds each
    * distinct grid once. 4M cells = 32 MB of doubles. */
  @volatile private[graft] var directCollectCells: Long = 4L * 1024 * 1024

  /** Phase-1 rows collected by the LAST [[planVarsStores]] call
    * — test-scope observability for the collected == survivors claim
    * (the pushed filter's whole point). */
  @volatile private[graft] var lastPhase1Collected: Int = -1

  /** Coordinate CELLS phase 2 drove to the driver on the last plan —
    * the distinct-group total, NOT survivors x axis length
    * (test observability for the coords-off-driver claim). */
  @volatile private[graft] var lastPhase2CoordCells: Long = -1L

  /** Plan a catalog open of `variables` from the manifest with ZERO
    * per-store storage reads. Members are the stores whose manifest
    * rows cover ALL `variables` (every store with a row for a single
    * variable, so one variable's membership costs nothing); envelope
    * pruning runs on the head variable's axes (the shared grid).
    *
    * Phase 1 prunes members whose [min,max] envelopes provably miss and
    * the driver re-checks the candidates with the exact
    * [[envelopeSurvives]] (raising the live errors); phase 2 loads full
    * rows for SURVIVORS only (pushed `store IN` parquet read) and
    * verifies each store's shared grid across the variables
    * ([[GridOpen.sharedGrid]]). Envelope pruning is conservative — a
    * surviving store can still resolve to an empty exact range
    * downstream, which excludes it there. One limit-probe job picks the
    * regime:
    *  - SMALL (the probe exhausts the rows): membership and the envelope
    *    gate driver-side over the collected summaries — one job, cheaper
    *    than the pushed path's extra jobs at small scale;
    *  - PUSHED: the envelope runs INSIDE the manifest scan
    *    ([[envelopePushdown]] over the persisted summary column — the
    *    coordinate arrays are never even read), membership as a grouped
    *    row-count semi-join (several variables only), and the driver
    *    collects only surviving members, never the catalog;
    *  - BROAD (no bounds, big catalog): every member survives by
    *    definition — phase 1 collects ZERO rows, one aggregate job
    *    estimates the coordinate volume for phase 2.
    *
    * Returns (one meta per survivor, store-sorted; format; dir; the REAL
    * envelope survivors' change fingerprints — empty when everything
    * pruned). When everything prunes, one member's meta is kept so the
    * empty frame still carries the right schema (it is NOT a survivor
    * and its fingerprint is not returned or checked). */
  private[sources] def planVarsStores(spark: SparkSession,
      manifestPath: String, variables: Seq[String],
      bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)],
      verifyFingerprints: Boolean = true)
      : (Seq[GridOpen.StoreMeta], GridFormat, String, Seq[(String, Fp)]) = {
    import spark.implicits._
    require(variables.nonEmpty, "catalog manifest: no variables requested")
    val df = load(spark, manifestPath)
      .where(col("variable").isin(variables: _*))
    val allSums = df.select(col("store"), col("variable"), col("axs").as("ax"))
    val probe = allSums.limit(collectAllBelow + 1).as[VarSummary].collect()
    require(probe.nonEmpty, s"catalog manifest: no rows for " +
      s"${variables.mkString(",")} in $manifestPath")
    val noMember = s"catalog manifest: no store holds all " +
      s"of ${variables.mkString(",")} in $manifestPath"
    val several = variables.distinct.size > 1
    // membership inside the scan; one variable's rows are all members
    def members(d: org.apache.spark.sql.DataFrame) =
      if (!several) d
      else d.join(df.groupBy("store").agg(count(lit(1)).as("__nv"))
        .where(col("__nv") === variables.distinct.size).select("store"),
        Seq("store"), "left_semi")
    val headSums = members(allSums.where(col("variable") === variables.head))
    val (full, survivors) =
      if (probe.length > collectAllBelow && bounds.isEmpty &&
          timeBounds.isEmpty) {
        lastPhase1Collected = 0
        // coalesce: NO member store makes the frame empty and the sum
        // NULL — the clean noMember require below must raise, not a
        // NullPointerException here
        val cells = headSums.select(coalesce(sum(expr(
          "aggregate(ax, 0L, (acc, a) -> acc + greatest(cast(a.n as bigint), 0L))")),
          lit(0L)))
          .collect()(0).getLong(0) * variables.length
        val f = loadEntries(spark, members(df), cells)
        require(f.nonEmpty, noMember)
        (f, f.map(_._1.store).distinct)
      } else {
        val sums =
          if (probe.length <= collectAllBelow) {
            val byStore = probe.groupBy(_.store)
            val got = probe.filter(s => s.variable == variables.head &&
              variables.forall(v => byStore(s.store).exists(_.variable == v)))
            require(got.nonEmpty, noMember)
            got.toSeq
          } else headSums.where(
              envelopePushdown(bounds, resolveTimeCombos(df, timeBounds)))
            .as[VarSummary].collect().toSeq
        lastPhase1Collected = sums.length
        val surv = sums.filter(s =>
          envelopeSurvives(s.store, s.ax, bounds, timeBounds)).map(_.store)
        // everything pruned: ONE member for the empty frame's schema —
        // the probe's head is one for a single variable; for several a
        // pushed plan asks the member frame (all-pruned vs no-member:
        // only the first is fine)
        lazy val fallback =
          if (!several) probe.head.store
          else {
            val one = headSums.limit(1).select("store").as[String].collect()
            require(one.nonEmpty, noMember)
            one.head
          }
        val wanted =
          if (surv.nonEmpty) surv
          else Seq(sums.headOption.map(_.store).getOrElse(fallback))
        val wantedSet = wanted.toSet
        val cells = sums.iterator.filter(s0 => wantedSet(s0.store))
          .flatMap(_.ax).map(a => math.max(0, a.n).toLong)
          .sum * variables.length
        (loadEntries(spark, df.where(col("store").isin(wanted: _*)), cells),
          surv)
      }
    // fps of the REAL survivors only (the everything-pruned fallback
    // member is schema-only: its staleness cannot affect the empty
    // result, so it must not refuse the query), returned so a
    // materialize can verify its not-yet-done subset
    val survivorSet = survivors.toSet
    val survivorFps = full.map(_._1).filter(e => survivorSet(e.store))
      .map(e => (e.store, (e.fpMtime, e.fpBytes, e.fpCount, e.fpHash)))
      .distinct
    if (verifyFingerprints)
      checkFresh(spark, survivorFps, manifestPath)
    val (format, dir) = (GridFormat.named(full.head._1.format), full.head._1.dir)
    // interned: metas share classified-axis seqs and attr seqs across
    // stores (a broad open's result is O(stores) StoreMeta shells +
    // O(distinct grids) everything else), and identical coords are ONE
    // array instance from loadEntries, so the shared-grid check's `eq`
    // shortcut makes it O(rank), not O(rank x axis length)
    val intern = new MetaInterner
    val metas = full.groupBy(_._1.store).toSeq.sortBy(_._1).map { case (s, rows) =>
      val perVar = variables.map(v => rows.find(_._1.variable == v).get)
      GridOpen.StoreMeta(s,
        GridOpen.sharedGrid(s, variables, perVar.map { case (e, raw) =>
          intern.classify(raw, e.store) }),
        intern.attrsOf(perVar.map(_._1)))
    }
    (metas, format, dir, survivorFps)
  }

  /** Reference-identity wrapper for hash keys: two keys match only
    * when they wrap the SAME instance. Used to key interning pools on
    * the coordinate arrays phase 2's grouped exchange already shares
    * by reference — value-hashing a 10^5-element grid per store would
    * cost exactly the O(stores x axis length) pass the sharing
    * avoids. */
  private final class IdRef(val a: AnyRef) {
    override def hashCode: Int = System.identityHashCode(a)
    override def equals(o: Any): Boolean = o match {
      case r: IdRef => r.a eq a
      case _ => false
    }
  }

  /** One store's axes as an interning key: value equality on the
    * scalar attrs, REFERENCE equality on the coordinate arrays. */
  private def axesKey(raw: Seq[GridOpen.RawAxis]): Seq[AnyRef] =
    raw.map(a => (a.k, a.name, a.units, a.calendar,
      a.coords.map(new IdRef(_))))

  /** Intern pool for the per-store CLASSIFIED axes and pack attrs: a
    * catalog has a handful of distinct grids and attr tuples, but a
    * broad open's result must carry one meta PER STORE — without
    * interning, 10^6 metas hold 10^6 copies of the same classified
    * Axis objects and attr strings (the round-19 rehearsal's 4.7 GB
    * driver peak was mostly this). Classification failures are never
    * cached, so the raised error always names the store that
    * triggered it. */
  private final class MetaInterner {
    private val attrs = scala.collection.mutable.HashMap
      .empty[Seq[CfDecode.CfAttrs], Seq[CfDecode.CfAttrs]]
    private val classified = scala.collection.mutable.HashMap
      .empty[Seq[AnyRef], Seq[GridOpen.Axis]]
    /** The pack attrs of one store's rows, one per variable. */
    def attrsOf(es: Seq[ScalarEntry]): Seq[CfDecode.CfAttrs] = {
      val as = es.map(e =>
        CfDecode.CfAttrs(e.scale, e.offset, e.fill, e.unsignedModulus))
      attrs.getOrElseUpdate(as, as)
    }
    def classify(raw: Seq[GridOpen.RawAxis], store: String)
        : Seq[GridOpen.Axis] = {
      val key = axesKey(raw)
      classified.get(key) match {
        case Some(ax) => ax
        case None =>
          val ax = GridOpen.classifyAxes(raw, store)
          classified.update(key, ax)
          ax
      }
    }
  }

  /** Phase-2 scalar row: everything except the coordinate arrays. */
  private[sources] final case class AxisHead(k: Int, name: String,
      units: Option[String], calendar: Option[String], hasCoords: Boolean)
  private[sources] final case class ScalarEntry(store: String,
      variable: String, format: String, dir: String,
      fpMtime: Long, fpBytes: Long, fpCount: Long, fpHash: Long,
      scale: Double, offset: Double, fill: Option[Double],
      unsignedModulus: Option[Double], axh: Seq[AxisHead])

  /** Phase 2 with COORDS OFF THE DRIVER's per-store hot path: scalar
    * rows collect per (store, variable), while coordinate arrays
    * collect ONCE PER DISTINCT (axis position, coords) GROUP — a
    * grouped exchange whose equality is Spark's NaN-normalized array
    * grouping, the same relation as [[GridOpen.coordsEq]] — and are
    * shared BY REFERENCE across every member store's meta. A broad
    * open over a homogeneous 10^4-store catalog therefore drivers its
    * grid once, not 10^4 times (and downstream `eq`-shortcut
    * comparisons are O(1)); a fully heterogeneous catalog collects
    * exactly what it did before, once per store.
    *
    * `coordCells` is the caller's estimate of the survivors' total
    * coordinate volume (from the phase-1 summaries, or one aggregate
    * job on a broad open): under [[directCollectCells]] the grouped
    * exchange buys nothing — full rows collect directly in ONE job.
    * `df` arrives pre-filtered to the wanted stores (or unfiltered for
    * a broad everything-survives open). */
  private def loadEntries(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, coordCells: Long)
      : Seq[(ScalarEntry, Seq[GridOpen.RawAxis])] = {
    import spark.implicits._
    if (coordCells <= directCollectCells) {
      val full = df.drop("axs").as[Entry].collect()
      lastPhase2CoordCells =
        full.iterator.flatMap(_.axes).flatMap(_.coords).map(_.length.toLong).sum
      return full.toSeq.map(e => (ScalarEntry(e.store, e.variable,
        e.format, e.dir, e.fpMtime, e.fpBytes, e.fpCount, e.fpHash,
        e.scale, e.offset, e.fill, e.unsignedModulus,
        e.axes.map(a => AxisHead(a.k, a.name, a.units, a.calendar,
          a.coords.isDefined))), e.axes))
    }
    val wdf = df.drop("axs")
    val scal = wdf.select(col("store"), col("variable"), col("format"),
        col("dir"), col("fpMtime"), col("fpBytes"), col("fpCount"),
        col("fpHash"), col("scale"), col("offset"), col("fill"),
        col("unsignedModulus"),
        expr("transform(axes, a -> struct(a.k as k, a.name as name, " +
          "a.units as units, a.calendar as calendar, " +
          "(a.coords is not null) as hasCoords))").as("axh"))
      .as[ScalarEntry].collect()
    val groups = wdf
      .select(col("store"), col("variable"), explode(col("axes")).as("a"))
      .where(col("a.coords").isNotNull)
      .groupBy(col("a.k").as("k"), col("a.coords").as("coords"))
      .agg(collect_list(struct(col("store"), col("variable"))).as("members"))
      .as[(Int, Array[Double], Seq[(String, String)])].collect()
    lastPhase2CoordCells = groups.iterator.map(_._2.length.toLong).sum
    val coordOf = groups.iterator.flatMap { case (k, cs, ms) =>
      ms.iterator.map(m => (m._1, m._2, k) -> cs) }.toMap
    // interned RawAxis: stores on the same grid share the axis OBJECTS
    // (value-equal scalar attrs + the reference-shared coords array),
    // not just the coordinate arrays — a 10^6-store homogeneous
    // catalog holds a handful of RawAxis instances, not 10^6 x rank
    val axPool = scala.collection.mutable.HashMap
      .empty[(Int, String, Option[String], Option[String], Option[IdRef]),
        GridOpen.RawAxis]
    scal.toSeq.map { e =>
      (e, e.axh.map { h =>
        val coords =
          if (h.hasCoords) Some(coordOf((e.store, e.variable, h.k))) else None
        axPool.getOrElseUpdate(
          (h.k, h.name, h.units, h.calendar, coords.map(new IdRef(_))),
          GridOpen.RawAxis(h.k, h.name, h.units, h.calendar, coords))
      })
    }
  }

  /** Store-count threshold above which a fingerprint wave runs as a
    * SPARK JOB instead of a driver parMap: at 10^5-10^6 stores a
    * driver-side wave is the read path's last O(catalog) latency term
    * (16-way round trips from one node); executors fan it out exactly
    * like [[entriesFor]]'s metadata wave. Mutable for tests. */
  @volatile private[graft] var fpDistributeAbove: Int = 4096

  /** One LIST/HEAD fingerprint wave over `stores`, collected to a
    * driver map — used ONLY by the read-path staleness guards, whose
    * `stores` is the PLAN'S SURVIVORS (already a driver seq the caller
    * holds), never the whole catalog; the maintenance plane's
    * catalog-wide waves consume [[fpWaveDf]] as a frame and stay
    * distributed. */
  private def fpWave(spark: SparkSession,
      stores: Seq[String]): Map[String, Fp] =
    fpWaveDf(spark, stores).collect().iterator.map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

  /** One store's fingerprint row. A genuinely VANISHED store
    * fingerprints as (-1,-1,-1,-1) (always "changed"); a transient I/O
    * failure (throttle, timeout, too-deep tree) surfaces as itself —
    * prescribing `refresh` for those would be a misdiagnosis. The
    * existence probe runs against the same possibly-flaky store, so
    * its own failure rethrows the ORIGINAL error. Executor-safe. */
  private def fpRow(s: String): (String, Long, Long, Long, Long) =
    try { val fp = ByteStore.treeStat(s); (s, fp._1, fp._2, fp._3, fp._4) }
    catch {
      case e: Exception =>
        val vanished =
          try !ByteStore.exists(s) catch { case _: Exception => false }
        if (vanished) (s, -1L, -1L, -1L, -1L) else throw e
    }

  private val FpCols = Seq("store", "__mt", "__by", "__n", "__h")

  /** THE distributed fingerprint wave, over a NAMES FRAME — fully
    * frame-native (the names never collect to the driver), on whatever
    * partitioning the upstream plan produced. [[checkCatalogFresh]]
    * hands it a join-derived store set; [[fpWaveDf]] a repartitioned
    * store list. */
  private def fpWaveOnFrame(spark: SparkSession,
      names: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val snap = ByteStore.confSnapshot(spark)
    import spark.implicits._
    names.select("store").as[String]
      .mapPartitions { it =>
        ByteStore.install(snap) // executor JVMs have no session
        it.map(fpRow)
      }.toDF(FpCols: _*)
  }

  /** The fingerprints of `stores` as a FRAME (store, __mt, __by, __n,
    * __h): a driver parMap into a local frame up to
    * [[fpDistributeAbove]] stores (bounded by definition), above it
    * [[fpWaveOnFrame]] over the list spread across executors — the
    * maintenance plane's diff consumes it through a join ([[diffFp]]),
    * so there the per-store results never transit the driver; only the
    * diff's added+changed names do. */
  private def fpWaveDf(spark: SparkSession, stores: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    if (stores.size <= fpDistributeAbove)
      ByteStore.parMap(stores)(fpRow).toDF(FpCols: _*)
    else fpWaveOnFrame(spark, spark.createDataset(stores).toDF("store")
      .repartition(math.max(1, math.min(512, stores.size / 32))))
  }

  /** Staleness guard on the stores a plan will actually READ: one
    * LIST/HEAD fingerprint wave over the SURVIVORS only (excluded
    * stores stay zero-cost), failing loudly on any mtime/bytes/count
    * mismatch — a silently stale manifest would crop with yesterday's
    * coordinates. `refresh` is the fix; `verifyFingerprints = false`
    * is the explicit escape hatch for immutable catalogs. */
  private def checkFresh(spark: SparkSession, expected: Seq[(String, Fp)],
      manifestPath: String): Unit = {
    val cur = fpWave(spark, expected.map(_._1).distinct)
    val stale = expected.collect {
      case (s, fp) if fpChanged(fp, cur(s)) => s
    }
    if (stale.nonEmpty)
      fail(s"stores changed since the manifest was built: " +
        s"${stale.take(5).mkString(", ")}${if (stale.size > 5) ", ..." else ""}" +
        s" — run CatalogManifest.refresh on $manifestPath " +
        "(or open with verifyFingerprints = false for immutable catalogs)")
  }

  /** OPT-IN full-catalog freshness check — the complement of the
    * survivor-only guard the manifest-planned opens run by default.
    * That guard verifies only the stores a plan will READ, so a store
    * the (stale) manifest EXCLUDES — one changed or newly added since
    * the build, which would now intersect the caller's bounds — is
    * silently omitted from results until a refresh (the documented
    * zero-cost-exclusion trade-off). Callers who need added/changed/
    * removed detection per query run THIS first: one LIST over `dir`
    * plus one LIST/HEAD fingerprint wave over every current store
    * (exactly what [[refresh]] pays before its re-scan — O(catalog)
    * round trips, no metadata reads), failing loudly with the
    * offending stores when the manifest is out of date. */
  def checkCatalogFresh(spark: SparkSession, format: String, dir: String,
      manifestPath: String): Unit = {
    val fmt = GridFormat.named(format)
    // the same frame-join diff as [[refresh]] — no driver fingerprint
    // maps — with the read-guard legacy semantics: a pre-hash row
    // (hash 0) compares the aggregate triple instead of reporting
    // changed outright (this guard diagnoses, it never re-scans).
    // ADDED stores are detected by NAME only and never fingerprinted:
    // a brand-new store may still be mid-upload or throttling, and a
    // diagnosing guard must report "added — run refresh", not abort
    // with that store's I/O error (also: one LIST/HEAD per added store
    // saved). The anti-join side carries sentinel fps the diff never
    // reads — "added" classifies on the old side's null alone.
    val oldFp = load(spark, manifestPath)
      .select("store", "fpMtime", "fpBytes", "fpCount", "fpHash").distinct()
    val stores = fmt.stores(dir)
    import spark.implicits._
    val curNames = spark.createDataset(stores).toDF("store")
    val known = curNames
      .join(oldFp.select("store").distinct(), Seq("store"), "left_semi")
    val addedNames = curNames
      .join(oldFp.select("store").distinct(), Seq("store"), "left_anti")
      .select(col("store"), lit(0L).as("__mt"), lit(0L).as("__by"),
        lit(0L).as("__n"), lit(0L).as("__h"))
    val curFp = fpWaveOnFrame(spark, known).unionByName(addedNames)
    val (added, changed, removed, _, _, diff) =
      diffFp(spark, oldFp, curFp, sameVars = true,
        legacyHashTripleFallback = true)
    try {
      if (added.nonEmpty || changed.nonEmpty || removed > 0) {
        val removedEx = diff.df.where(col("__status") === "removed")
          .select("store").orderBy("store").limit(3).collect()
          .map(_.getString(0))
        fail("the catalog changed since the manifest was built (" +
          s"added: ${added.take(3).mkString(",")}; " +
          s"changed: ${changed.take(3).mkString(",")}; " +
          s"removed: ${removedEx.mkString(",")}) — run " +
          s"CatalogManifest.refresh on $manifestPath")
      }
    } finally diff.release()
  }

  /** Staleness check on an explicit fingerprint subset — what a
    * scene-idempotent materialize verifies: every NOT-yet-done store
    * whose inclusion decision depended on manifest coordinates (the
    * envelope survivors, incl. ones the exact prune then dropped — a
    * changed store could now match), never the already-done ones (a
    * done scene's later change must not wedge a skip-everything
    * re-run). The fingerprints come from [[planVarsStores]]' own collect,
    * so this costs zero extra manifest reads. */
  private[sources] def checkFreshSubset(spark: SparkSession,
      fps: Seq[(String, (Long, Long, Long, Long))],
      manifestPath: String): Unit =
    if (fps.nonEmpty) checkFresh(spark, fps, manifestPath)

  // ---- synthetic-manifest hook ---------------------------------------------
  // Specs drive PLAN-ONLY paths over SYNTHETIC manifests (no stores on
  // disk, so no fingerprint wave): publish a generated Entry table, plan
  // from it, and read the observability counters. Not part of the public
  // surface.

  private[graft] def publishEntries(spark: SparkSession,
      entries: Dataset[Entry], manifestPath: String): Unit =
    publish(spark, entries.toDF(), manifestPath)

  /** Plan-only over a synthetic manifest: (the metas, survivors, phase-1
    * rows collected). */
  private[graft] def planLive(spark: SparkSession, manifestPath: String,
      variable: String, bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)])
      : (Seq[GridOpen.StoreMeta], Int, Int) = {
    val (metas, _, _, fps) = planVarsStores(spark, manifestPath, Seq(variable),
      bounds, timeBounds, verifyFingerprints = false)
    (metas, if (fps.isEmpty) 0 else metas.length, lastPhase1Collected)
  }

  /** Envelope test for one store: every bound axis's [lo, hi] must
    * intersect the axis's [min, max]. NaN envelopes compare
    * conservatively (kept). Time bounds resolve through the STORE's
    * own units/calendar, exactly like the live open. */
  private[sources] def envelopeSurvives(store: String, ax: Seq[AxisSummary],
      bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)]): Boolean = {
    if (bounds.isEmpty && timeBounds.isEmpty) return true
    val axes = GridOpen.classifyAxes(
      ax.map(a => GridOpen.RawAxis(a.k, a.name, a.units, a.calendar,
        if (a.n >= 0) Some(Array.empty[Double]) else None)), store)
    val nb = GridOpen.resolveBounds(axes, bounds, timeBounds, store)
    // error shapes first, on EVERY bound axis (name-sorted): a
    // short-circuiting walk would make whether an error raises depend
    // on which axis's intersection test happens to evaluate first —
    // and thereby on map iteration order, and across the phase-1
    // regimes. Resolve-then-test keeps diagnostics deterministic.
    val resolved = nb.toSeq.sortBy(_._1).map { case (name, (lo, hi)) =>
      val a = ax.find(_.name == name)
        .getOrElse(fail(s"no axis '$name' in $store"))
      if (a.n < 0) fail(s"axis '$name' in $store has no coords")
      (a, lo, hi)
    }
    resolved.forall { case (a, lo, hi) =>
      // mn/mx can be None only for an empty coords array
      (a.mn, a.mx) match {
        case (Some(mn), Some(mx)) => !(mx < lo || mn > hi)
        case _ => false
      }
    }
  }
}
