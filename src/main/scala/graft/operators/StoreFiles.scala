package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Shared file-store maintenance plumbing for the persisted index
  * families. Appends are NEW-FILES-ONLY by design (never rewrite a
  * committed file), so a nightly append loop accumulates small files
  * without bound; each family's `compact*Index` rewrites its bulk
  * subdirectory into target-sized files through the guarded temp-swap
  * below — the same idiom as [[Dedup.compactLabelStore]], generalized.
  */
private[graft] object StoreFiles {

  /** Dev-only driver-side phase timing, printed when
    * SPARK_GRAFT_TIMING=1 (JobTrace's companion: job gaps say the
    * driver was busy; these lines say in WHICH store-plumbing phase).
    * Zero overhead when off beyond one env check at class load.
    */
  private val timingOn: Boolean =
    sys.env.get("SPARK_GRAFT_TIMING").contains("1")
  @inline private[graft] def timed[T](what: String)(body: => T): T =
    if (!timingOn) body
    else {
      val t0 = System.nanoTime()
      try body
      finally System.err.println(
        f"[storetime] $what ${(System.nanoTime() - t0) / 1e6}%8.1f ms")
    }

  /** Rewrite one store subdirectory atomically-enough for a single
    * nightly writer: `write(tmp)` materializes the full replacement at
    * `<dir>_compact`, then the original is deleted and the replacement
    * renamed in. Hadoop's rename/delete signal most failures by
    * RETURNING FALSE, not throwing — an unchecked false after the
    * delete would silently destroy the store, so both are require'd;
    * on a failed rename the compacted data still sits in the temp dir
    * for manual recovery. NOT concurrent-safe with appends or probes
    * (single-nightly-writer contract, like every stored structure
    * here).
    */
  def swapIn(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val tmp = s"${dir}_compact"
    write(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.delete(new org.apache.hadoop.fs.Path(dir), true),
      s"compact: could not delete $dir")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(dir)),
      s"compact: rename of $tmp failed — compacted data preserved " +
        s"there; restore manually")
  }

  /** Does a store subdirectory exist? Serve paths use this so stores
    * that have never seen a delete keep their exact pre-tombstone plan
    * (no extra relation, no counter drift).
    */
  def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // ------------------------------------------------------------------
  // Save-time-immutable scalar PARAMS as plain text — the manifest
  // discipline applied to the one metadata sidecar that was still a
  // parquet table: a one-row params parquet cost one Spark JOB to
  // write and two more (listing + head) on EVERY load/append/serve of
  // every stored family, which is exactly the
  // metadata-ops-must-be-driver-FS-calls lesson the r9 counters taught
  // for the manifest itself. `key=value` lines, written to a temp file
  // and published by rename; values are written and read by the same
  // library, never user data.
  // ------------------------------------------------------------------

  /** Replace sidecar directory `d` with one plain-text file of `lines`
    * — a bounded driver FS call, zero Spark jobs. The replacement is
    * STAGED first (`_sidecar.tmp` fully written) and only then is the
    * old `sidecar.txt` retired and the staged file renamed in: a crash
    * anywhere before the final rename leaves either the old sidecar
    * intact or the complete replacement in the tmp file — never a
    * committed store with no params at all (the old delete-the-whole-
    * directory-first form had exactly that window). Stale files from
    * an older layout (the parquet-era one-row table) are swept, but
    * the live sidecar survives until its replacement is staged.
    */
  private def writeSidecar(spark: SparkSession, d0: String,
      lines: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new org.apache.hadoop.fs.Path(d0)
    val fs = d.getFileSystem(conf)
    val fin = new org.apache.hadoop.fs.Path(d, "sidecar.txt")
    if (fs.exists(d))
      // sweep parquet-era leftovers (mode("overwrite") semantics) while
      // keeping the current sidecar readable until the swap below
      fs.listStatus(d).foreach { st =>
        if (st.getPath.getName != "sidecar.txt")
          require(fs.delete(st.getPath, true),
            s"writeSidecar: could not clear stale ${st.getPath}")
      }
    else require(fs.mkdirs(d), s"writeSidecar: could not create $d")
    val tmp = new org.apache.hadoop.fs.Path(d, "_sidecar.tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.map { l =>
      require(!l.contains("\n"), s"writeSidecar: illegal line '$l'")
      l + "\n"
    }.mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(fin))
      require(fs.delete(fin, false), s"writeSidecar: could not retire $fin")
    require(fs.rename(tmp, fin), s"writeSidecar: publish rename to $fin failed")
  }

  private def readSidecar(spark: SparkSession, d0: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$d0/sidecar.txt")
    val fs = p.getFileSystem(conf)
    // versioned failure instead of a raw FileNotFoundException: a store
    // persisted by the pre-r14 parquet-params layout has the directory
    // but no sidecar.txt — name the break explicitly
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"readSidecar: $p missing — " +
          (if (fs.exists(new org.apache.hadoop.fs.Path(d0)))
             s"$d0 holds a pre-sidecar (parquet-era) params layout; " +
               s"re-save the store with the current writer"
           else s"$d0 does not exist (store never saved?)"))
    val in = fs.open(p)
    val txt =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    txt.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Write a store's save-time-immutable scalar params under
    * `<sub>` (default `params`) as `key=value` text — zero Spark jobs.
    */
  def writeParams(spark: SparkSession, dir: String,
      kv: Seq[(String, String)], sub: String = "params"): Unit =
    writeSidecar(spark, s"$dir/$sub", kv.map { case (k, v) =>
      require(!k.contains("="), s"writeParams: illegal key $k")
      s"$k=$v"
    })

  /** Read a params sidecar written by [[writeParams]] — zero Spark
    * jobs.
    */
  def readParams(spark: SparkSession, dir: String,
      sub: String = "params"): Map[String, String] =
    readSidecar(spark, s"$dir/$sub").map { l =>
      val i = l.indexOf('=')
      require(i > 0, s"readParams: malformed line '$l' in $dir/$sub")
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  /** Write an (a, b) → long-vector table (trained centroids/codebooks
    * — driver literals by contract) as text lines `a,b:v1,v2,…` —
    * zero Spark jobs, replacing the one-row-parquet form whose save
    * cost a job and whose every load cost a listing + collect job.
    */
  def writeVecTable(spark: SparkSession, d: String,
      rows: Seq[(Int, Int, Array[Long])]): Unit =
    writeSidecar(spark, d, rows.map { case (a, b, v) =>
      s"$a,$b:${v.mkString(",")}"
    })

  /** Read a vec table written by [[writeVecTable]] — zero Spark jobs. */
  def readVecTable(spark: SparkSession, d: String): Seq[(Int, Int, Array[Long])] =
    readSidecar(spark, d).map { l =>
      val colon = l.indexOf(':')
      require(colon > 0, s"readVecTable: malformed line '$l' in $d")
      val Array(a, b) = l.substring(0, colon).split(",")
      (a.toInt, b.toInt,
        l.substring(colon + 1).split(",").map(_.toLong))
    }

  /** Record deletes against an append-only store as TOMBSTONE rows —
    * the LSM delete: committed data files are never touched; `rows`
    * (already restricted by the caller to ids live in the store, and
    * distinct on `idCol`) lands as NEW files under the store's
    * tombstones subdirectory. Serve paths anti-join the tombstones;
    * the family's `compact*Index` applies them physically and
    * truncates the directory.
    *
    * Idempotent by construction: ids already tombstoned are dropped
    * here (anti join against the existing rows), so re-issuing a
    * delete — or deleting an id twice across batches — appends nothing
    * and never double-counts in any stats adjustment derived from the
    * tombstone relation. ONE append write, so a delete is as
    * crash-atomic as any other append.
    */
  def appendTombstones(spark: SparkSession, dir: String,
      rows: DataFrame, idCol: String): Unit = {
    val fresh =
      if (dirExists(spark, dir))
        rows.join(spark.read.parquet(dir).select(idCol), Seq(idCol),
          "left_anti")
      else rows
    fresh.write.mode("append").parquet(dir)
  }

  /** The tombstone relation, or None if the store has never seen a
    * delete.
    */
  def readTombstones(spark: SparkSession,
      dir: String): Option[DataFrame] =
    if (dirExists(spark, dir)) Some(spark.read.parquet(dir)) else None

  /** Drop a tombstones directory if present — `save*Index` paths call
    * this so a FRESH save never inherits deletes recorded against a
    * previous index that lived at the same path (the data subdirs are
    * mode("overwrite")-replaced; this is the missing overwrite for the
    * delete ledger).
    */
  def clearTombstones(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      require(fs.delete(p, true), s"clearTombstones: could not delete $dir")
  }

  // ------------------------------------------------------------------
  // Snapshot manifests — generation-numbered commit log for a stored
  // family's data subdirectories (the Iceberg/Delta commit idea reduced
  // to its minimum). A committed batch writes ONE manifest text file
  // (`<dir>/manifest/gen-<g>.txt`, one committed data-file path per
  // line) listing its data files AFTER they land; the rename that
  // publishes that file IS the commit point. Snapshot readers take the
  // union of manifested paths (optionally only generations ≤ an as-of
  // bound — time travel), so a torn append (crashed writer: data files,
  // no manifest file) is invisible, and [[vacuumStore]] physically
  // removes such orphans. Shared by every committed family; any other
  // append-only store can adopt it unchanged.
  //
  // The manifest is PLAIN TEXT written through the Hadoop FS API, not a
  // parquet table: every metadata operation — current generation,
  // committed file set, the commit write itself — is a bounded DRIVER
  // FS call and launches ZERO Spark jobs (the Iceberg metadata-layer
  // discipline; a commit log whose every read is a distributed job
  // would dominate small appends, which is exactly what the r9 bench
  // counters showed for the parquet-manifest predecessor). Bounded:
  // one line per data file, the same scale as any directory listing.
  // ------------------------------------------------------------------

  /** Every parquet data file under `subdirs`, via the Hadoop FS API
    * (works on HDFS/object stores, not just local disk).
    *
    * LOCAL-SCHEME FAST PATH: Hadoop's RawLocalFileSystem listing
    * materializes a permission-carrying status per file — without the
    * native IO library that is a fork/exec (`ls`) PER FILE, measured
    * at ~0.8 s per listing of a few-hundred-file store (the dominant
    * driver cost of every commit's before/after listing diff). A
    * java.nio walk of the same tree returns the same paths in
    * single-digit milliseconds; the returned strings are built against
    * the Hadoop-qualified root so they remain byte-identical to the
    * slow path's (manifest membership is string-keyed). Non-local
    * filesystems keep the Hadoop listing unchanged.
    */
  def listDataFiles(spark: SparkSession,
      subdirs: Seq[String]): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    subdirs.flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      val local = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
        fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
      if (local) {
        val qual = fs.makeQualified(p)
        val root = java.nio.file.Paths.get(qual.toUri)
        if (!java.nio.file.Files.isDirectory(root)) Seq.empty
        else {
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          java.nio.file.Files.walkFileTree(root,
            new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
              override def visitFile(f: java.nio.file.Path,
                  attrs: java.nio.file.attribute.BasicFileAttributes)
                  : java.nio.file.FileVisitResult = {
                if (f.getFileName.toString.endsWith(".parquet"))
                  buf += new org.apache.hadoop.fs.Path(qual,
                    root.relativize(f).toString).toString
                java.nio.file.FileVisitResult.CONTINUE
              }
            })
          buf.toSeq
        }
      } else if (!fs.exists(p)) Seq.empty
      else {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val f = it.next().getPath
          if (f.getName.endsWith(".parquet")) buf += f.toString
        }
        buf.toSeq
      }
    }.toSet
  }

  private val GenFileName = "gen-(\\d{16})\\.txt".r
  private val EpochDirName = "epoch-(\\d{8})".r

  // ------------------------------------------------------------------
  // Per-file ZONE MAPS — the data-skipping half of the pruning story
  // (partition pruning covers directory-encoded columns; these cover
  // content columns). At commit time each newly committed file's
  // (col, min, max) envelope is read from its parquet FOOTER on the
  // driver — no Spark job, one bounded footer read per file, the same
  // scale as the listing diff itself — and rides the manifest as
  // `#stat=` header lines inside the SAME gen file whose publish
  // rename is the commit point (stats and file list land atomically).
  // Serve-side, [[snapshotReadSkipping]] drops committed files whose
  // envelope provably misses a range predicate BEFORE Spark ever
  // lists the store: at 100 TB this is the difference between
  // listing/footer-reading every file of the probed partitions and
  // touching only the files the predicate can hit. Stats are a
  // pruning HINT, never the correctness boundary — the predicate is
  // also applied in-plan, and a file with no recorded envelope is
  // always kept.
  // ------------------------------------------------------------------

  private def statLongOf(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l.longValue)
    case i: java.lang.Integer => Some(i.longValue)
    case _ => None // only integral envelopes are recorded
  }

  /** (col, min, max) for the requested LONG/INT columns of one parquet
    * file, from its footer's row-group statistics — driver-side, no
    * job. A column is reported only when EVERY row group carries
    * non-null stats for it (otherwise the file's envelope is unknown
    * and it must never be skipped). Null rows never widen the
    * envelope, which is sound for range pruning: a BETWEEN predicate
    * cannot match null.
    */
  private def footer(conf: org.apache.hadoop.conf.Configuration,
      file: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try reader.getFooter
    finally reader.close()
  }

  private def footerBlocks(conf: org.apache.hadoop.conf.Configuration,
      file: String): Seq[org.apache.parquet.hadoop.metadata.BlockMetaData] = {
    import scala.jdk.CollectionConverters._
    footer(conf, file).getBlocks.asScala.toSeq
  }

  private def longStatsOfBlocks(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      cols: Seq[String]): Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    cols.flatMap { c =>
      val chunks = blocks.flatMap(_.getColumns.asScala
        .filter(_.getPath.toDotString == c))
      val envs = chunks.flatMap { ch =>
        val s = ch.getStatistics
        if (s == null || !s.hasNonNullValue) None
        else for (mn <- statLongOf(s.genericGetMin);
                  mx <- statLongOf(s.genericGetMax)) yield (mn, mx)
      }
      if (chunks.isEmpty || envs.size != chunks.size) None
      else Some((c, envs.map(_._1).min, envs.map(_._2).max))
    }
  }

  def parquetLongStats(conf: org.apache.hadoop.conf.Configuration,
      file: String, cols: Seq[String]): Seq[(String, Long, Long)] =
    longStatsOfBlocks(footerBlocks(conf, file), cols)

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** (col, min, max) envelopes for the requested STRING (parquet
    * binary) columns of one file's footer — the string sibling of
    * [[parquetLongStats]], same every-row-group rule. Bounds are raw
    * UTF-8 bytes compared UNSIGNED-lexicographically, which is exactly
    * parquet's UTF8 sort order AND Spark's UTF8String comparison, so a
    * range predicate prunes consistently with how the engine filters.
    * Sound under parquet's statistics-truncation contract: a truncated
    * min is a PREFIX (≤ the true min) and a truncated max is
    * incremented upward (≥ the true max), so envelopes only widen.
    */
  private def stringStatsOfBlocks(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      cols: Seq[String]): Seq[(String, Array[Byte], Array[Byte])] = {
    import scala.jdk.CollectionConverters._
    cols.flatMap { c =>
      val chunks = blocks.flatMap(_.getColumns.asScala
        .filter(_.getPath.toDotString == c))
      val envs = chunks.flatMap { ch =>
        val s = ch.getStatistics
        if (s == null || !s.hasNonNullValue) None
        else (s.genericGetMin, s.genericGetMax) match {
          case (mn: org.apache.parquet.io.api.Binary,
                mx: org.apache.parquet.io.api.Binary) =>
            Some((mn.getBytes, mx.getBytes))
          case _ => None
        }
      }
      if (chunks.isEmpty || envs.size != chunks.size) None
      else Some((c,
        envs.map(_._1).reduce((a, b) => if (cmpBytes(a, b) <= 0) a else b),
        envs.map(_._2).reduce((a, b) => if (cmpBytes(a, b) >= 0) a else b)))
    }
  }

  /** `stat=<col>|<min>|<max>|<path>` header lines for the files whose
    * store subdirectory has registered stat columns (path goes LAST —
    * it is the one field that may contain arbitrary characters).
    * Columns that are not integral fall through to STRING envelopes,
    * recorded as `strstat=<col>|<b64 min>|<b64 max>|<path>` (base64:
    * arbitrary token bytes must never collide with the delimiter).
    */
  def zoneMapHeaders(spark: SparkSession, files: Set[String],
      statCols: Map[String, Seq[String]]): Seq[String] =
    if (statCols.isEmpty) Seq.empty
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val b64 = java.util.Base64.getEncoder
      // (file, cols) for the files whose sub registered stat columns
      val tagged = files.toSeq.sorted.flatMap { f =>
        statCols.collectFirst {
          case (sub, cs) if f.contains(s"/$sub/") => (f, cs)
        }
      }
      // ONE footer open serves both the integral and the string
      // envelopes of a file (the old form opened every file twice),
      // and files are footer-read CONCURRENTLY on a bounded driver
      // pool — commit latency stops scaling linearly with the batch's
      // file count (results keep the sorted file order)
      def headersOf(f: String, cs: Seq[String]): Seq[String] = {
        val blocks = footerBlocks(conf, f)
        val longs = longStatsOfBlocks(blocks, cs)
        val covered = longs.map(_._1).toSet
        val strs = stringStatsOfBlocks(blocks, cs.filterNot(covered))
        longs.map { case (c, mn, mx) => s"stat=$c|$mn|$mx|$f" } ++
          strs.map { case (c, mn, mx) =>
            s"strstat=$c|${b64.encodeToString(mn)}|" +
              s"${b64.encodeToString(mx)}|$f"
          }
      }
      graft.Parallel.map(tagged, 8) { case (f, cs) => headersOf(f, cs) }.flatten
    }

  /** The committed STRING zone maps of the active epoch:
    * path → col → (min, max) raw UTF-8 bounds. Driver-side parse.
    */
  def fileStringStats(spark: SparkSession,
      dir: String): Map[String, Map[String, (Array[Byte], Array[Byte])]] = {
    val b64 = java.util.Base64.getDecoder
    manifestHeaders(spark, dir)
      .collect { case ("strstat", v) => v }
      .flatMap { v =>
        v.split("\\|", 4) match {
          case Array(c, mn, mx, p) =>
            try Some((p, c, b64.decode(mn), b64.decode(mx)))
            catch { case _: IllegalArgumentException => None }
          case _ => None
        }
      }
      .groupBy(_._1)
      .map { case (p, rows) =>
        (p, rows.map(r => (r._2, (r._3, r._4))).toMap)
      }
  }

  /** [[snapshotReadSkipping]] for a STRING range `colName ∈ [lo, hi]`:
    * committed files whose recorded UTF-8 envelope is disjoint from
    * the range never enter the scan. Same hint-only contract — the
    * predicate is also applied in-plan, envelope-less files are kept.
    */
  def snapshotReadSkippingStr(spark: SparkSession, dir: String,
      sub: String, colName: String, lo: String, hi: String,
      asOf: Option[Long] = None): DataFrame = {
    val loB = lo.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val hiB = hi.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(cmpBytes(loB, hiB) <= 0,
      s"snapshotReadSkippingStr: empty range ['$lo', '$hi']")
    val paths = manifestPaths(spark, dir, asOf)
      .filter(_.contains(s"/$sub/"))
    require(paths.nonEmpty,
      s"snapshotReadSkippingStr: no committed files under $dir/$sub")
    val stats = fileStringStats(spark, dir)
    val kept = paths.filter { p =>
      stats.get(p).flatMap(_.get(colName))
        .forall { case (mn, mx) =>
          cmpBytes(mx, loB) >= 0 && cmpBytes(mn, hiB) <= 0 }
    }
    val range = org.apache.spark.sql.functions.col(colName)
      .between(lo, hi)
    if (kept.isEmpty)
      spark.read.option("basePath", s"$dir/$sub").parquet(paths.head)
        .filter(org.apache.spark.sql.functions.lit(false))
    else
      spark.read.option("basePath", s"$dir/$sub").parquet(kept: _*)
        .filter(range)
  }

  /** The committed zone maps of the active epoch:
    * path → col → (min, max). Driver-side header parse, no job.
    */
  def fileStats(spark: SparkSession,
      dir: String): Map[String, Map[String, (Long, Long)]] =
    manifestHeaders(spark, dir)
      .collect { case ("stat", v) => v }
      .flatMap { v =>
        v.split("\\|", 4) match {
          case Array(c, mn, mx, p) =>
            try Some((p, c, mn.toLong, mx.toLong))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      }
      .groupBy(_._1)
      .map { case (p, rows) =>
        (p, rows.map(r => (r._2, (r._3, r._4))).toMap)
      }

  /** [[snapshotRead]] with zone-map FILE SKIPPING for
    * `colName ∈ [lo, hi]`: committed files whose recorded envelope is
    * disjoint from the range never enter the scan's file list; files
    * with no envelope are kept. The range predicate is also applied
    * in-plan — correctness never rests on the stats.
    */
  def snapshotReadSkipping(spark: SparkSession, dir: String, sub: String,
      colName: String, lo: Long, hi: Long,
      asOf: Option[Long] = None): DataFrame = {
    require(lo <= hi, s"snapshotReadSkipping: empty range [$lo, $hi]")
    val paths = manifestPaths(spark, dir, asOf)
      .filter(_.contains(s"/$sub/"))
    require(paths.nonEmpty,
      s"snapshotReadSkipping: no committed files under $dir/$sub")
    val stats = fileStats(spark, dir)
    val kept = paths.filter { p =>
      stats.get(p).flatMap(_.get(colName))
        .forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
    val range = org.apache.spark.sql.functions.col(colName)
      .between(lo, hi)
    if (kept.isEmpty)
      // every file provably misses: empty relation, schema preserved —
      // ONE file carries the schema; scanning the rest buys nothing
      spark.read.option("basePath", s"$dir/$sub").parquet(paths.head)
        .filter(org.apache.spark.sql.functions.lit(false))
    else
      spark.read.option("basePath", s"$dir/$sub").parquet(kept: _*)
        .filter(range)
  }

  /** Bounded retry for the non-atomic list-then-read the manifest
    * readers do: [[writeManifest]]'s post-commit cleanup deletes
    * superseded epoch dirs and bare gen files, so a reader that listed
    * the old epoch can hit FileNotFoundException opening a gen file
    * mid-overwrite. The store is single-WRITER but readers are
    * concurrent-legal (maintain*L0 re-bases online inside streaming
    * ingest), so a vanished path means exactly one thing: the epoch
    * the reader was walking was just superseded — re-list from the
    * top and the new epoch's complete log is there (the commit rename
    * published it BEFORE cleanup started). Bounded: each retry needs
    * another full overwrite to race, so 10 misses in a row means
    * something else is deleting manifest files.
    *
    * A mid-delete directory surfaces differently per FS layer —
    * FileNotFoundException, java.nio NoSuchFile/AccessDenied, or
    * RawLocalFileSystem's bare IOException("Invalid directory…") when
    * File.list() returns null — so the retry catches IOException
    * wholesale: within this bounded loop a transient miss and a racy
    * list are indistinguishable, and a PERSISTENT error (real
    * permissions, dead disk) still fails loudly after the retries.
    */
  private def isRacyMiss(t: Throwable): Boolean = t match {
    case _: java.io.FileNotFoundException => true
    case _: java.nio.file.NoSuchFileException => true
    case _: java.nio.file.AccessDeniedException => true
    case _ => false
  }

  private def retryingRead[T](what: String)(body: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < 10) {
      try return body
      catch { case e: java.io.IOException => last = e; i += 1 }
    }
    throw new IllegalStateException(
      s"$what: manifest kept vanishing across 10 re-listings — " +
        s"something beyond overwrite cleanup is deleting manifest files",
      last)
  }

  /** The active epoch of a manifest directory: the highest epoch
    * holding at least one committed gen file. Bare `gen-*.txt` files
    * directly under `manifest/` are epoch 0 (the fresh-save layout);
    * `epoch-<e>/` subdirectories hold the logs of later overwrite
    * re-bases. An epoch directory with NO gen file (a torn overwrite
    * that crashed before its commit rename) is ignored — readers fall
    * through to the previous epoch, which is exactly the atomicity the
    * epoch scheme buys. Returns Some((epoch, dirHoldingItsGenFiles));
    * None for a store that has never committed.
    */
  private def activeEpoch(fs: org.apache.hadoop.fs.FileSystem,
      md: org.apache.hadoop.fs.Path)
      : Option[(Long, org.apache.hadoop.fs.Path)] = {
    if (!fs.exists(md)) return None
    val sts = fs.listStatus(md).toSeq
    val hasBare = sts.exists(_.getPath.getName match {
      case GenFileName(_) => true; case _ => false })
    // the inner listing races writeManifest's post-commit cleanup: an
    // epoch dir that vanishes between the outer listStatus and this one
    // is by definition superseded — treat it as holding no gen files
    def hasGen(p: org.apache.hadoop.fs.Path): Boolean =
      try fs.listStatus(p).exists(_.getPath.getName match {
        case GenFileName(_) => true; case _ => false })
      catch { case e: Throwable if isRacyMiss(e) => false }
    val epochs = sts.flatMap(st => st.getPath.getName match {
      case EpochDirName(e) if hasGen(st.getPath) =>
        Some((e.toLong, st.getPath))
      case _ => None
    })
    ((if (hasBare) Seq((0L, md)) else Seq.empty) ++ epochs)
      .sortBy(_._1).lastOption
  }

  /** The active epoch's gen files as (gen, path) ascending, read under
    * the STABLE-EPOCH protocol: a committed epoch always holds at
    * least one gen file, and cleanup of a superseded epoch starts only
    * AFTER its successor's gen file is published — so if the epoch
    * resolved before the listing is still the active one after it, and
    * the listing saw gen files, the listing could not have raced a
    * sweep (a half-swept epoch is by then outranked by its published
    * successor). Any violation throws into [[retryingRead]], which
    * re-resolves from the top. Empty = the store has never committed.
    */
  private def activeGenFiles(fs: org.apache.hadoop.fs.FileSystem,
      md: org.apache.hadoop.fs.Path)
      : Seq[(Long, org.apache.hadoop.fs.Path)] =
    activeEpoch(fs, md) match {
      case None =>
        // a committed log only moves FORWARD (overwrites supersede,
        // never remove), so resolving None on a manifest that HAS a
        // log is a race, not a state: the outer listing can capture
        // only the old epoch dir, which the sweep then empties before
        // the inner check — while the new epoch (created later) was
        // never enumerated. Confirm emptiness by re-resolving: a real
        // never-committed manifest is stable across re-lists (three
        // cheap driver listings); a racy None flips to Some as soon
        // as a listing captures the published epoch, which throws
        // into [[retryingRead]] for the normal retry.
        var i = 0
        while (i < 3) {
          if (activeEpoch(fs, md).nonEmpty)
            throw new java.io.FileNotFoundException(
              s"manifest at $md resolved empty mid-sweep")
          i += 1
        }
        Seq.empty
      case Some((e, d)) =>
        val gens = fs.listStatus(d).toSeq
          .flatMap(st => st.getPath.getName match {
            case GenFileName(g) => Some((g.toLong, st.getPath))
            case _ => None // in-flight temp files, epoch dirs
          })
        if (gens.isEmpty || !activeEpoch(fs, md).map(_._1).contains(e))
          throw new java.io.FileNotFoundException(
            s"manifest epoch $e at $md superseded mid-read")
        gens.sortBy(_._1)
    }

  /** One manifest generation: the text file `gen-<g 16-digit>.txt`
    * (one committed data-file path per line) under the manifest's
    * active epoch, published by write-to-temp + rename — all-or-nothing
    * visibility; a reader listing the directory sees the whole
    * generation or none of it. `overwrite` resets the commit log (a
    * fresh save, or a compaction collapsing history to a new
    * generation 0): when a committed log already exists, the new log
    * is written as generation 0 of a NEW epoch directory — the rename
    * publishing its gen file is the commit point, so a reader always
    * sees either the old epoch's complete log or the new one, never a
    * window with no manifest at all (the old delete-then-rewrite reset
    * had exactly that window). Superseded epochs are removed
    * best-effort AFTER the commit; a crash mid-cleanup leaves stale
    * lower epochs that every reader ignores and the next overwrite
    * retries. Driver-only FS calls; no Spark job.
    */
  def writeManifest(spark: SparkSession, dir: String, gen: Long,
      paths: Set[String], mode: String,
      headers: Seq[String] = Seq.empty): Unit = {
    val md = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val act = activeEpoch(fs, md)
    val hasLog = act.nonEmpty
    val (curEpoch, curDir) = act.getOrElse((0L, md))
    val target =
      if (mode == "overwrite" && hasLog)
        new org.apache.hadoop.fs.Path(md, f"epoch-${curEpoch + 1L}%08d")
      else curDir
    fs.mkdirs(target)
    val tmp = new org.apache.hadoop.fs.Path(target, f".tmp-gen-$gen%016d")
    val out = fs.create(tmp, true)
    try out.write(
      (headers.map("#" + _) ++ paths.toSeq.sorted).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fin = new org.apache.hadoop.fs.Path(target, f"gen-$gen%016d.txt")
    require(fs.rename(tmp, fin),
      s"writeManifest: commit rename to $fin failed")
    if (mode == "overwrite" && hasLog) {
      // committed — now retire the superseded log (best-effort; stale
      // epochs are invisible to activeEpoch readers either way)
      fs.listStatus(md).foreach(st => st.getPath.getName match {
        case GenFileName(_) => fs.delete(st.getPath, false); ()
        case EpochDirName(e) if e.toLong <= curEpoch =>
          fs.delete(st.getPath, true); ()
        case _ => ()
      })
    }
  }

  /** Every committed generation of the ACTIVE epoch with its file
    * list, ascending — parsed from the manifest's text files on the
    * driver (no job). Empty for a store with no manifest.
    */
  def manifestEntries(spark: SparkSession,
      dir: String): Seq[(Long, Seq[String])] = timed("manifestEntries") {
    val md = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(md)) Seq.empty
    else retryingRead("manifestEntries") {
      activeGenFiles(fs, md)
        .map { case (g, p) =>
          val in = fs.open(p)
          val text =
            try new String(
              org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
              java.nio.charset.StandardCharsets.UTF_8)
            finally in.close()
          (g, text.split("\n").toSeq.map(_.trim)
            .filter(l => l.nonEmpty && !l.startsWith("#")))
        }
    }
  }

  /** Every `#key=value` header line committed in the active epoch, as
    * (key, value) pairs — the manifest's side-channel for writer
    * metadata. One driver-side parse, same scale as [[manifestEntries]].
    */
  def manifestHeaders(spark: SparkSession,
      dir: String): Seq[(String, String)] = timed("manifestHeaders") {
    val md = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(md)) Seq.empty
    else retryingRead("manifestHeaders") {
      activeGenFiles(fs, md)
        .flatMap { case (_, p) =>
          val in = fs.open(p)
          val text =
            try new String(
              org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
              java.nio.charset.StandardCharsets.UTF_8)
            finally in.close()
          text.split("\n").toSeq.map(_.trim)
            .filter(_.startsWith("#"))
            .flatMap { l =>
              l.drop(1).split("=", 2) match {
                case Array(k, v) => Some((k, v))
                case _ => None
              }
            }
        }
    }
  }

  /** The batch ids already committed against this store — the
    * exactly-once ledger a streaming writer's retry consults (the
    * Delta `txn` appId/version dedup reduced to its minimum). Scope:
    * the ACTIVE epoch — [[compactL0]] carries the headers forward
    * through its re-base, so ids survive background maintenance; a
    * FULL compaction or fresh save resets the ledger, which is sound
    * under the single-writer contract (those are offline operations —
    * no batch can be in flight across one to be retried).
    */
  def committedBatchIds(spark: SparkSession, dir: String): Set[Long] =
    manifestHeaders(spark, dir)
      .collect { case ("batch", v) => v.toLong }.toSet

  /** Latest committed generation of the active epoch, or -1 for a
    * store with no manifest (never committed, or pre-manifest layout).
    * Filename parse only — no file content is read, no job runs.
    */
  def manifestGen(spark: SparkSession, dir: String): Long = {
    val md = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(md)) -1L
    else retryingRead("manifestGen") {
      activeGenFiles(fs, md).map(_._1).foldLeft(-1L)(math.max)
    }
  }

  /** The committed file set: union of every manifest generation with
    * gen ≤ `asOf` (defaults to all — the latest snapshot). Driver-side
    * text parse (bounded: one line per data file, the same scale as any
    * file listing); no job.
    */
  def manifestPaths(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): Seq[String] =
    manifestEntries(spark, dir)
      .filter { case (g, _) => asOf.forall(g <= _) }
      .flatMap(_._2)

  /** Total byte size of the ACTIVE committed data files — the
    * FS-metadata scale proxy behind staleness policies
    * ([[graft.operators.Suffix.rebuildDue]]): one driver-side status
    * call per committed file, no job, no data read.
    */
  def committedBytes(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    manifestPaths(spark, dir).map { s =>
      val p = new org.apache.hadoop.fs.Path(s)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }

  /** Read one manifested subdirectory of a committed store as of a
    * generation: the committed files under `$dir/$sub` as one relation.
    * basePath keeps the subdirectory's partition columns (and their
    * pruning) intact when reading explicit leaf files. The data schema
    * is the one Spark wrote into the first file's footer, read on the
    * driver, so the read runs no schema-inference job; the partition
    * columns are still inferred from the paths, after the data columns,
    * as before. A file without that footer key is inferred as before.
    */
  def snapshotRead(spark: SparkSession, dir: String, sub: String,
      asOf: Option[Long] = None): DataFrame = {
    val paths = manifestPaths(spark, dir, asOf)
      .filter(_.contains(s"/$sub/"))
    require(paths.nonEmpty,
      s"snapshotRead: no committed files under $dir/$sub" +
        asOf.fold("")(g => s" as of generation $g"))
    val reader = spark.read.option("basePath", s"$dir/$sub")
    footerSchema(spark.sparkContext.hadoopConfiguration, paths.head)
      .fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** The Spark schema a Spark writer recorded in a parquet file's footer
    * (the key schema inference reads first), or None without it.
    */
  private def footerSchema(conf: org.apache.hadoop.conf.Configuration,
      file: String): Option[StructType] =
    Option(footer(conf, file).getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case s: StructType => s }

  /** Run a family's append under the commit protocol: data files land
    * first (`append`), then the before/after listing diff — exactly the
    * batch's files under the single-writer contract — commits as one
    * manifest row-file at generation `manifestGen + 1`. With
    * `expectedGen` set, the commit is OPTIMISTIC: if another writer
    * committed since the caller read that generation, the manifest
    * write is refused and the batch's data files are left ORPHANED —
    * invisible to every snapshot reader, reclaimed by [[vacuumStore]]
    * or the next compaction — which is the standard OCC loser outcome
    * (redo the append against the new snapshot). Returns the committed
    * generation.
    */
  def commitAppend(spark: SparkSession, dir: String,
      dataDirs: Seq[String], expectedGen: Option[Long] = None,
      headers: Seq[String] = Seq.empty,
      statCols: Map[String, Seq[String]] = Map.empty)(
      append: => Unit): Long = {
    val before = timed("commit.listBefore")(listDataFiles(spark, dataDirs))
    timed("commit.append")(append)
    val cur = timed("commit.gen")(manifestGen(spark, dir))
    expectedGen.foreach { e =>
      if (cur != e)
        throw new IllegalStateException(
          s"commitAppend: store $dir is at generation $cur, expected $e — " +
            s"a concurrent commit won; this batch's data files are " +
            s"orphaned (vacuum reclaims them); re-read and retry")
    }
    val fresh = timed("commit.listAfter")(
      listDataFiles(spark, dataDirs)) -- before
    val hdrs = timed("commit.zoneMaps")(zoneMapHeaders(spark, fresh, statCols))
    timed("commit.writeManifest")(
      writeManifest(spark, dir, cur + 1L, fresh, "append", headers ++ hdrs))
    cur + 1L
  }

  /** [[commitAppend]] made EXACTLY-ONCE for a replayable writer
    * (Structured Streaming's foreachBatch contract: after a crash the
    * engine re-delivers the same batch under the same `batchId`): the
    * batch id is checked against the manifest's committed-id ledger
    * BEFORE any data is written — a re-delivered batch writes nothing
    * at all and returns None — and is recorded as a `#batch=` header
    * line inside the SAME manifest file whose publish rename is the
    * commit point, so the dedup record and the commit are one atomic
    * write (never a committed batch without its id, or vice versa).
    * Crash windows: data landed but no manifest → the retry re-appends
    * (first attempt's files are unmanifested orphans — the listing
    * diff excludes them from the retry's commit; vacuum reclaims);
    * manifest landed but the caller's checkpoint didn't → the retry
    * hits the ledger and skips. [[compactL0]] carries the ledger
    * through its re-base.
    */
  def commitAppendIdempotent(spark: SparkSession, dir: String,
      dataDirs: Seq[String], batchId: Long,
      statCols: Map[String, Seq[String]] = Map.empty)(
      append: => Unit): Option[Long] =
    if (committedBatchIds(spark, dir).contains(batchId)) None
    else Some(commitAppend(spark, dir, dataDirs,
      headers = Seq(s"batch=$batchId"), statCols = statCols)(append))

  /** Physically delete data files NOT in the committed set — the
    * leftovers of torn appends and lost optimistic commits. Returns the
    * deleted paths. Single-nightly-writer contract: must not race an
    * in-flight append (whose files are legitimately unmanifested until
    * its commit point).
    */
  def vacuumStore(spark: SparkSession, dir: String,
      dataDirs: Seq[String]): Seq[String] = {
    require(dirExists(spark, s"$dir/manifest"),
      s"vacuumStore: $dir has no manifest — nothing defines the " +
        s"committed set")
    val committed = manifestPaths(spark, dir).toSet
    val orphans =
      (listDataFiles(spark, dataDirs) -- committed).toSeq.sorted
    val conf = spark.sparkContext.hadoopConfiguration
    orphans.foreach { s =>
      val p = new org.apache.hadoop.fs.Path(s)
      require(p.getFileSystem(conf).delete(p, false),
        s"vacuumStore: could not delete orphan $s")
    }
    orphans
  }

  /** SIZE-TIERED (L0) compaction — the LSM move the full per-family
    * compactions don't make: merge ONLY the appended runs (manifest
    * generations >= 1) into one fresh run per subdirectory and re-base
    * the manifest, WITHOUT touching the generation-0 base files. At
    * 100 TB the full compaction rewrites the whole corpus to absorb
    * megabytes of appends; this rewrites only the appends, so its cost
    * scales with the ingest rate, not the corpus.
    *
    * No-op (returns false) below `minRuns` appended generations — the
    * trigger policy that keeps one hot batch from causing a rewrite.
    * For each sub with L0 files, `rewrite(sub, l0)` must WRITE the
    * merged relation back into `$dir/$sub` as new files (mode append,
    * preserving the sub's partition layout); the listing diff under the
    * single-writer contract is the compacted run. The manifest then
    * re-bases in ONE overwrite — the commit point, atomic via
    * [[writeManifest]]'s new-epoch publish (a reader always sees the
    * old log or the new one, never neither) — to
    * (base ∪ compacted − L0); history collapses to a fresh generation 0
    * (the same vacuum-horizon trade as the full compaction). The old L0
    * files are deleted AFTER the commit — a crash between commit and
    * cleanup leaves them as orphans no snapshot references, reclaimed by
    * [[vacuumStore]]. The tombstone ledger is deliberately NOT cleared:
    * deleted docs may live in the untouched base, so serves keep the
    * lazy anti-join; only the full compaction (which rewrites the base)
    * clears it.
    */
  /** Partition count for a CLUSTERED L0 re-base (the
    * `repartitionByRange(n, …)` every family's compaction uses). Two
    * deliberate choices: (a) the TYPED resolver, never
    * `conf.get("spark.sql.shuffle.partitions").toInt` — deployments
    * that set the conf to `"auto"` (AQE-managed) would throw
    * NumberFormatException on the raw string; (b) still an EXPLICIT
    * count at the write, because leaving the partitioning implicit
    * lets AQE coalesce a small re-base into one file and the
    * clustering (disjoint per-file zone-map envelopes) never
    * materializes.
    */
  def rebaseParts(df: org.apache.spark.sql.DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Cluster rows on the directory-partition column before a
    * `partitionBy` write — the REBALANCE-before-write / hash
    * write-distribution idiom. Without it every write task emits one
    * file per partition value it happens to hold (tasks × values
    * small files per save/append), and the commit-time zone-map
    * footer walk, the serve-time listing, and every snapshot scan pay
    * per file. AQE sizes the rebalanced partitions both ways —
    * a small delta coalesces to one task (one file per touched
    * value), a hot value at cluster scale splits to advisory-sized
    * files — so the setting is scale-adaptive, not tuned to the local
    * harness. Batch-level zone-map envelopes (what the range-serve
    * rows pin) are untouched: clustering within one write never
    * widens that write's own id span.
    */
  def clusterForWrite(df: org.apache.spark.sql.DataFrame,
      c: String): org.apache.spark.sql.DataFrame =
    df.hint("rebalance", org.apache.spark.sql.functions.col(c))

  def compactL0(spark: SparkSession, dir: String, subs: Seq[String],
      minRuns: Int, statCols: Map[String, Seq[String]] = Map.empty)(
      rewrite: (String, org.apache.spark.sql.DataFrame) => Unit): Boolean = {
    require(minRuns >= 1, s"compactL0: minRuns must be >= 1, got $minRuns")
    val entries = manifestEntries(spark, dir)
    require(entries.nonEmpty,
      s"compactL0: $dir has no manifest — commit the store first")
    val l0Gens = entries.filter(_._1 >= 1L)
    if (l0Gens.size < minRuns) return false
    val l0 = l0Gens.flatMap(_._2).toSet
    var committed = entries.flatMap(_._2).toSet -- l0
    var compacted = Set.empty[String]
    for (sub <- subs) {
      val dataDir = s"$dir/$sub"
      val subL0 = l0.filter(_.contains(s"/$sub/")).toSeq.sorted
      if (subL0.nonEmpty) {
        val before = listDataFiles(spark, Seq(dataDir))
        rewrite(sub,
          spark.read.option("basePath", dataDir).parquet(subL0: _*))
        compacted ++= listDataFiles(spark, Seq(dataDir)) -- before
      }
    }
    committed ++= compacted
    // the re-base carries every committed `#key=value` header forward —
    // in particular the exactly-once batch-id ledger: a streaming
    // writer's retry must still find its id after background
    // maintenance collapsed the L0 generations it committed into.
    // ZONE-MAP lines follow the files: survivors keep theirs, the
    // merged L0 files' lines drop with the files, and the compacted
    // runs get fresh envelopes from their footers
    val carried = manifestHeaders(spark, dir).filter {
      // BOTH zone-map forms scope to surviving files — a `strstat` line
      // of a merged-away L0 file carried forward is never read (readers
      // key stats by committed path) but grows the manifest
      // monotonically with every re-base on string-stat stores
      case ("stat" | "strstat", v) => v.split("\\|", 4) match {
        case Array(_, _, _, p) => committed.contains(p)
        case _ => false
      }
      case _ => true
    }.map { case (k, v) => s"$k=$v" }.distinct
    writeManifest(spark, dir, 0L, committed, "overwrite",
      carried ++ zoneMapHeaders(spark, compacted, statCols))
    val conf = spark.sparkContext.hadoopConfiguration
    l0.foreach { s =>
      val p = new org.apache.hadoop.fs.Path(s)
      p.getFileSystem(conf).delete(p, false); ()
    }
    true
  }
}
