package graft.operators

import graft.sources.Discovery
import org.apache.spark.sql.SparkSession

/** In-place small-file compaction — the 100 TB table-maintenance primitive
  * the sink's layout story needs: streaming/partitioned/rolled writes
  * accumulate many small part files per directory (each micro-batch appends
  * its own), and at warehouse scale the file-count itself becomes the
  * bottleneck (NameNode/listing pressure, one scan task per tiny file).
  *
  * Beyond the reference (whose writer is single-file only). Design:
  *
  *   - Reads the directory tree through the normal scan (hive `col=value`
  *     partition directories are re-discovered; partition-column TYPE
  *     inference is disabled so values round-trip verbatim, same rule as
  *     `Sink.readBack`).
  *   - Right-sizes output files with an AQE rebalance: the advisory
  *     partition size is set to `targetFileBytes` scaled by the measured
  *     on-disk compression ratio... no — simpler and deterministic:
  *     `maxRecordsPerFile` derived from the tree's own measured
  *     bytes-per-row, which already reflects this data's encoding +
  *     compression (no guessed ratios).
  *   - Writes to a staging dir, then swaps: old tree moved aside, staging
  *     renamed in, old tree deleted only after the swap succeeds — a crash
  *     leaves either the old or the new tree at the path, never neither
  *     (same promote discipline as the sink).
  *   - Row-count is verified old-vs-new BEFORE the swap: an in-place
  *     rewrite must never trade files for rows.
  */
object Compact {

  final case class Stats(
      filesBefore: Int, filesAfter: Int,
      bytesBefore: Long, bytesAfter: Long,
      rows: Long, partitionColumns: Seq[String])

  /** Compact `dir` (a parquet/orc/jsonl/csv directory tree, flat or
    * hive-partitioned) into ~`targetFileBytes` files, in place.
    *
    * `delimiter` applies to CSV trees only — it MUST match the delimiter
    * the tree was written with, or every line parses as one column and the
    * rewrite would destroy the column structure (a shape guard below
    * refuses the obvious mis-delimiter case loudly).
    *
    * `preSwapCheck` runs against the fully-written staging tree AFTER the
    * row-count verification and BEFORE the destructive swap: a caller-side
    * content check (e.g. `--verify`'s checksum) that throws here aborts the
    * compaction with the ORIGINAL tree untouched — never after the old data
    * is already gone.
    */
  def run(spark: SparkSession, dir: String, fmt: Discovery.Format,
      targetFileBytes: Long = 128L * 1024 * 1024,
      compression: String = "zstd",
      delimiter: String = ",",
      preSwapCheck: String => Unit = _ => (),
      leaseStaleMs: Long = 30L * 60 * 1000,
      // non-empty: the rewrite RE-CLUSTERS the tree z-ordered by these
      // columns (the lakehouse OPTIMIZE ZORDER maintenance shape —
      // compaction and layout repair in one staged swap). Columnar
      // formats only (text has no row-group stats to make selective),
      // flat trees only (a hive tree's directories already partition the
      // key space; z-ordering across them would need per-directory
      // clustering, which is a different rewrite).
      zorderBy: Seq[String] = Nil): Stats = {
    require(fmt != Discovery.Xml,
      "--compact does not support xml trees — compact csv/parquet/jsonl/orc")
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
      s"compact expects a directory tree: $dir")
    // single-writer lease: two compactions of the same tree share one
    // staging path and one promote window, so interleaved runs could cross
    // their renames. A create-EXCLUSIVE lease file arbitrates; the loser
    // fails fast with a readable message instead of corrupting the swap.
    // A crashed holder's lease goes stale after `leaseStaleMs` and is taken
    // over via atomic rename (only one of N racing takeovers wins the
    // rename, so takeover itself cannot double-admit). The holder's unique
    // token is re-read just before the destructive swap — a run that
    // outlives its own lease (stale takeover by a newer run) aborts with
    // the original tree intact instead of crossing renames with the thief.
    val lease = new org.apache.hadoop.fs.Path(dir + ".compact-lock")
    val token = acquireLease(fs, lease, leaseStaleMs)
    // heartbeat: a LIVE holder must never present as stale — a rewrite
    // that legitimately outlives leaseStaleMs (routine on a 100 TB tree)
    // would otherwise be taken over mid-job and then waste the entire
    // rewrite at the pre-swap token re-check. Touch mtime only, never
    // content: the token bytes the arbitration reads stay stable. Once a
    // takeover renames the lease away, setTimes throws FileNotFound and
    // the beat goes quiet — the token re-checks still handle the abort.
    // setTimes failures beyond IOException (e.g. UnsupportedOperationException
    // on object-store connectors that don't implement mtime updates) must not
    // kill the thread SILENTLY — that would quietly lose the stale-takeover
    // protection for long rewrites. Warn loudly once, then stop beating: the
    // pre-swap token re-check still guards the destructive step.
    val beat = new Thread({ () =>
      val period = math.max(1000L, leaseStaleMs / 3)
      try {
        var beating = true
        while (beating && !Thread.currentThread.isInterrupted) {
          Thread.sleep(period)
          try fs.setTimes(lease, System.currentTimeMillis, -1)
          catch {
            case _: java.io.IOException => () // transient (or lease renamed away) — keep trying
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"compact: lease heartbeat disabled — setTimes " +
                s"unsupported on this FileSystem (${e.getClass.getSimpleName}: " +
                s"${e.getMessage}); a rewrite outliving ${leaseStaleMs} ms may be " +
                "taken over and abort at the pre-swap token check")
              beating = false
          }
        }
      } catch { case _: InterruptedException => () }
    }: Runnable, "compact-lease-heartbeat")
    beat.setDaemon(true)
    beat.start()
    try runLocked(spark, fs, root, dir, fmt, targetFileBytes, compression,
      delimiter, preSwapCheck, lease, token, leaseStaleMs, zorderBy)
    finally {
      beat.interrupt()
      // release ONLY if still ours: after a stale takeover the file at the
      // lease path belongs to the new holder
      if (readLease(fs, lease).contains(token)) fs.delete(lease, false)
    }
  }

  /** Root-relative (path, size) listing of a tree, skipping `_`-prefixed
    * metadata files. Used as the cheap post-swap witness that a promote
    * delivered exactly the verified staging files. The root is QUALIFIED
    * before prefix-stripping: `listStatus` returns scheme-qualified paths
    * (`file:/...`), so stripping a caller's plain local path would never
    * match and every comparison of two trees would spuriously differ.
    */
  def relativeListing(conf: org.apache.hadoop.conf.Configuration,
      path: String): Set[(String, Long)] = {
    val raw = new org.apache.hadoop.fs.Path(path)
    val hfs = raw.getFileSystem(conf)
    val root = hfs.makeQualified(raw)
    val prefix = root.toString
    val out = scala.collection.mutable.Set.empty[(String, Long)]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      hfs.listStatus(p).foreach { s0 =>
        if (s0.isDirectory) walk(s0.getPath)
        else if (!s0.getPath.getName.startsWith("_")) {
          val full = s0.getPath.toString
          require(full.startsWith(prefix),
            s"relativeListing: $full not under $prefix")
          out += ((full.substring(prefix.length), s0.getLen))
        }
      }
    walk(root); out.toSet
  }

  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
      lease: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(lease)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  private def acquireLease(fs: org.apache.hadoop.fs.FileSystem,
      lease: org.apache.hadoop.fs.Path, staleMs: Long): String = {
    val token =
      s"pid=${ProcessHandle.current.pid} token=${java.util.UUID.randomUUID()} ts=${System.currentTimeMillis}\n"
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lease, false) // exclusive: fails if present
        try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (tryCreate()) return token
    val stale =
      try System.currentTimeMillis - fs.getFileStatus(lease).getModificationTime > staleMs
      catch { case _: java.io.FileNotFoundException => false }
    if (stale) {
      // atomic-rename arbitration: of N concurrent takeovers exactly one
      // rename succeeds; the winner removes the moved-aside lease and
      // re-runs the exclusive create
      val aside = new org.apache.hadoop.fs.Path(
        lease.toString + s".stale-${java.util.UUID.randomUUID()}")
      val won = try fs.rename(lease, aside) catch { case _: java.io.IOException => false }
      if (won) {
        fs.delete(aside, false)
        if (tryCreate()) return token
      }
    }
    throw new IllegalStateException(
      s"compact: another compaction holds $lease — wait for it to finish " +
        s"(or, if its process crashed, the lease goes stale after ${staleMs / 1000}s)")
  }

  private def runLocked(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, dir: String, fmt: Discovery.Format,
      targetFileBytes: Long, compression: String, delimiter: String,
      preSwapCheck: String => Unit,
      lease: org.apache.hadoop.fs.Path, leaseToken: String,
      leaseStaleMs: Long, zorderBy: Seq[String]): Stats = {
    // a FileStreamSink tree carries a _spark_metadata transaction log that
    // the rewrite cannot honor: the swap would delete it, and a later stream
    // resume into the same path would recreate a log listing only NEW files
    // — at which point metadata-log-aware reads silently drop every
    // compacted row. Refuse; compaction ends a streaming tree's lifecycle,
    // and that must be the user's explicit call.
    require(!fs.exists(new org.apache.hadoop.fs.Path(root, "_spark_metadata")),
      s"compact: $dir is a streaming-sink tree (_spark_metadata present); " +
        "compacting would orphan the sink's transaction log and a resumed " +
        "stream would hide the compacted rows from log-aware reads. " +
        "Delete _spark_metadata first (this ends the tree's streaming-sink " +
        "lifecycle) or compact a copy.")

    val (dataFiles, partCols) = scanTree(fs, root)
    require(dataFiles.nonEmpty, s"no data files under $dir")
    if (zorderBy.nonEmpty) {
      require(fmt == Discovery.Parquet || fmt == Discovery.Orc,
        s"compact --zorder-by: $fmt has no row-group statistics to make " +
          "selective — z-order re-clustering applies to parquet/orc trees only")
      require(partCols.isEmpty,
        "compact --zorder-by: tree is hive-partitioned (" +
          partCols.mkString(",") + ") — its directories already partition " +
          "the key space; z-order the flat tree or drop the flag")
    }
    // every data file must BE the tree's format: the rewrite only carries
    // rows the reader parses, and the swap deletes the old tree — a stray
    // README.txt (or a mixed-format tree) would be silently destroyed.
    // Refuse loudly; the user moves the stray file aside first.
    val strays = dataFiles.filterNot(f => matchesFormat(f.getPath.getName, fmt))
    require(strays.isEmpty,
      s"compact: $dir contains non-$fmt files the rewrite would destroy: " +
        strays.take(5).map(_.getPath.getName).mkString(", ") +
        (if (strays.size > 5) s" (+${strays.size - 5} more)" else "") +
        " — move them aside or pass the right --out-format")
    // a BUCKETED table's files encode the bucket id in their names
    // (part-...-<uuid>_NNNNN.c000...): the hash-to-file mapping IS the
    // table's join/prune contract, and a compaction rewrite would shuffle
    // rows across that mapping — every later bucketed join or
    // SelectedBucketsCount probe would then silently return wrong rows.
    // Refuse; bucketed tables re-bucket through their writer, not compact.
    val bucketed = dataFiles.filter(
      f => BucketFilePattern.matcher(f.getPath.getName).find())
    require(bucketed.isEmpty,
      s"compact: $dir looks like a BUCKETED table (bucket-id file names: " +
        bucketed.take(3).map(_.getPath.getName).mkString(", ") +
        ") — compacting would scramble the bucket-hash mapping that joins " +
        "and bucket pruning rely on; rewrite it with the bucketed writer instead")
    val bytesBefore = dataFiles.map(_.getLen).sum
    // sizing bytes: for gz TEXT trees the rewrite is uncompressed, so
    // deriving bytes/row (and the output file count) from COMPRESSED sizes
    // would overshoot targetFileBytes by the compression ratio. The gzip
    // trailer's ISIZE field records each member's uncompressed length (mod
    // 2^32 — part files are well under 4 GB), so four bytes per file give
    // the real figure.
    val sizingBytes = dataFiles.map(f => dataLen(fs, f)).sum

    // the tree reads back as the CLI's --verify reads a sink's output:
    // partition values survive VERBATIM (a `source=007` directory does not
    // come back as int 7), CSV with the tree's own delimiter
    val df = graft.sinks.Sink.readBack(spark, dir, fmt, delimiter)
    // mis-delimiter shape guard: a CSV tree read with the wrong delimiter
    // parses every line as ONE column whose header still contains the real
    // delimiter — and the rewrite would then destroy the column structure
    // while row-count (and a same-delimiter checksum) still pass. Genuine
    // single-column trees have no delimiter characters in their header.
    if (fmt == Discovery.Csv && df.columns.length == 1) {
      val others = Seq(",", ";", "\t", "|").filterNot(_ == delimiter)
      val hit = others.find(df.columns.head.contains)
      require(hit.isEmpty,
        s"compact: $dir parsed as a single column with '$delimiter' but its " +
          s"header contains '${hit.get.replace("\t", "\\t")}' — wrong --delimiter " +
          "for this tree? Refusing to rewrite (the column structure would be lost).")
    }

    // this tree's own bytes/row (already reflecting its encoding and
    // compression) sizes the output files — one cheap count job, reused for
    // the pre-swap row verification
    val rows = df.count()
    val maxRecords = math.max(1L, (targetFileBytes.toDouble /
      math.max(1.0, sizingBytes.toDouble / math.max(1L, rows))).toLong)

    // staging path is UNIQUE per run: a previous holder whose lease went
    // stale mid-rewrite may still have a Spark job committing files into
    // ITS staging dir — with a shared path, those late files would land in
    // the new holder's verified staging between count and swap (silent
    // duplicate rows at the contract path). Per-run suffixes isolate the
    // trees. Leftover `.compact-tmp*` siblings are swept only when AGED
    // past the lease-stale window: a fresh sibling may belong to a live
    // SUPERSEDING holder (this run could itself be the overrun one — it
    // stalled, its lease was stolen, and the thief is mid-rewrite; an
    // unconditional sweep here would delete the thief's verified staging
    // right before its swap). An aged tree belongs to a dead run by
    // definition — live runs touch their staging continuously. The
    // ownership re-check narrows the window further: an already-superseded
    // run aborts before sweeping anything.
    if (!readLease(fs, lease).contains(leaseToken))
      throw new IllegalStateException(
        s"compact: lease on $dir was taken over before the rewrite started; " +
          "a newer compaction supersedes this one — tree unchanged")
    val staging = dir + ".compact-tmp-" +
      java.util.UUID.randomUUID().toString.take(8)
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val parent = root.getParent
    val leafPrefix = root.getName + ".compact-tmp"
    val now = System.currentTimeMillis
    fs.listStatus(parent)
      .filter(st => st.getPath.getName.startsWith(leafPrefix) &&
        now - st.getModificationTime > leaseStaleMs)
      .foreach(st => fs.delete(st.getPath, true))
    // DETERMINISTIC partition count from the tree's measured ON-DISK bytes:
    // an AQE rebalance would size partitions by their IN-MEMORY estimate,
    // which for compressed columnar text runs several times the output
    // size — the first soak of this operator watched rebalance split 16
    // small files into 18. Compaction knows exactly how many output bytes
    // exist; ceil(bytes/target) is the file count, full stop. Partitioned
    // trees hash on the partition columns so each task holds whole
    // col=value groups (maxRecordsPerFile still bounds pathological
    // per-value skew).
    val nOut = math.max(1, math.ceil(sizingBytes.toDouble / targetFileBytes).toInt)
    val clustered =
      if (zorderBy.nonEmpty)
        // OPTIMIZE ZORDER: the rewrite pays one extra pass (quantile
        // boundaries) and range-shuffles on the interleaved z-value with
        // the SAME deterministic file count — compaction and
        // data-skipping layout repair in one staged swap
        graft.operators.ZOrder.cluster(df, zorderBy, numFiles = Some(nOut))
      else if (partCols.nonEmpty)
        df.repartition(nOut, partCols.map(c =>
          org.apache.spark.sql.functions.col(graft.schema.SchemaUnifier.quoted(c))): _*)
      else df.repartition(nOut)
    val w0 = clustered.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecords.toString)
    val w = if (partCols.nonEmpty) w0.partitionBy(partCols: _*) else w0
    // text trees keep their own options, not the sink's: compaction is a
    // lossless rewrite, and the sink's CSV `emptyValue ""` would turn quoted
    // empty strings into nulls
    fmt match {
      case Discovery.Parquet =>
        w.option("compression", graft.sinks.Sink.codec(fmt, compression)).parquet(staging)
      case Discovery.Orc =>
        w.option("compression", graft.sinks.Sink.codec(fmt, compression)).orc(staging)
      case Discovery.Avro =>
        w.format(Discovery.AvroClass)
          .option("compression", graft.sinks.Sink.codec(fmt, compression)).save(staging)
      case Discovery.Jsonl => w.option("ignoreNullFields", "false").json(staging)
      case Discovery.Csv => w.option("header", "true")
        .option("delimiter", delimiter).option("escape", "\"")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false").csv(staging)
      case Discovery.Xml => throw new IllegalStateException(
        "unreachable: run refuses xml trees before the rewrite")
    }

    // verify BEFORE the swap: the destructive step only runs once the new
    // tree provably holds every row
    val newRows = graft.sinks.Sink.readBack(spark, staging, fmt, delimiter).count()
    if (newRows != rows) {
      fs.delete(stagingPath, true)
      throw new IllegalStateException(
        s"compaction aborted: rewrote $newRows rows, expected $rows ($dir unchanged)")
    }
    // caller-side content verification against the STAGING tree — still
    // before the swap, so a checksum mismatch aborts with the original
    // intact (count-preserving corruption must never cost the source data)
    try preSwapCheck(staging) catch { case e: Throwable =>
      fs.delete(stagingPath, true)
      throw new IllegalStateException(
        s"compaction aborted by pre-swap verification ($dir unchanged): ${e.getMessage}", e)
    }

    // last gate before anything destructive: the lease must still carry
    // OUR token. A rewrite that ran past `leaseStaleMs` can have had its
    // lease taken over by a newer run; proceeding would interleave two
    // promote sequences. Abort instead — the original tree is untouched
    // and the new holder's compaction supersedes this one.
    if (!readLease(fs, lease).contains(leaseToken)) {
      fs.delete(stagingPath, true)
      throw new IllegalStateException(
        s"compact: lease on $dir was taken over mid-run (rewrite exceeded the " +
          "stale window); aborting before the swap — tree unchanged")
    }
    // swap: old aside -> staging in -> old deleted. A crash between renames
    // leaves the data at `.compact-old` or at the contract path — findable,
    // never gone.
    val old = new org.apache.hadoop.fs.Path(dir + ".compact-old")
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(root, old), s"compact: failed to move $root aside")
    if (!fs.rename(stagingPath, root)) {
      fs.rename(old, root) // restore; staging is still intact for diagnosis
      throw new IllegalStateException(s"compact: failed to promote $staging to $root")
    }
    fs.delete(old, true)

    val (after, _) = scanTree(fs, root)
    Stats(dataFiles.size, after.size, bytesBefore, after.map(_.getLen).sum,
      rows, partCols)
  }

  /** Format of an existing output tree, from its data files' extensions.
    * Unlike input discovery (which deliberately skips bare `.json`), a tree
    * being compacted is KNOWN to be sink output, where Spark's JSON sink
    * names parts `part-*.json` — so `.json` counts as JSONL here.
    */
  /** ONE format<->extension table for both tree detection and the stray
    * guard (two hand-maintained copies would desynchronize). Text formats
    * accept a `.gz` variant — Spark's text scans decompress by extension,
    * so a gz text tree compacts fine (re-written uncompressed).
    */
  /** Spark bucketed-writer file-name infix: `..._00003.c000.<ext>` — the
    * five digits are the bucket id. Anchored on the `.cNNN` suffix so a
    * user file merely containing `_12345` does not false-positive.
    */
  private val BucketFilePattern =
    java.util.regex.Pattern.compile("_\\d{5}\\.c\\d{3}\\.")

  private val extsByFormat: Map[Discovery.Format, Set[String]] = Map(
    Discovery.Parquet -> Set(".parquet"),
    Discovery.Orc     -> Set(".orc"),
    Discovery.Avro    -> Set(".avro"),
    Discovery.Jsonl   -> Set(".json", ".jsonl", ".json.gz", ".jsonl.gz"),
    Discovery.Csv     -> Set(".csv", ".csv.gz"))

  /** Sizing length of a data file: its on-disk bytes, except gz members,
    * whose gzip trailer ISIZE (uncompressed length mod 2^32) is read from
    * the last four bytes — the rewrite of a gz text tree is uncompressed,
    * so output sizing must use uncompressed figures. Falls back to the
    * compressed length on a zero/garbage trailer (multi-member gz
    * undercounts — still a strictly better estimate than compressed bytes).
    */
  private def dataLen(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Long =
    if (st.getPath.getName.toLowerCase.endsWith(".gz") && st.getLen > 4) {
      val in = fs.open(st.getPath)
      try {
        in.seek(st.getLen - 4)
        val b = new Array[Byte](4)
        in.readFully(b)
        val isize = (b(0) & 0xffL) | ((b(1) & 0xffL) << 8) |
          ((b(2) & 0xffL) << 16) | ((b(3) & 0xffL) << 24)
        if (isize > 0) isize else st.getLen
      } catch { case _: java.io.IOException => st.getLen }
      finally in.close()
    } else st.getLen

  private def matchesFormat(name: String, fmt: Discovery.Format): Boolean = {
    val n = name.toLowerCase
    extsByFormat(fmt).exists(n.endsWith)
  }

  def detectTreeFormat(spark: SparkSession, dir: String): Discovery.Format = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
      s"compact expects a directory tree: $dir")
    val (files, _) = scanTree(fs, root)
    val fmts = files.flatMap(f => extsByFormat.keys.find(
      matchesFormat(f.getPath.getName, _))).distinct
    require(fmts.size == 1,
      s"cannot infer a single format for $dir (found ${fmts.mkString(", ")}); " +
        "pass --out-format")
    fmts.head
  }

  /** All data files under `root` (skipping `_SUCCESS`/hidden bookkeeping),
    * plus hive partition columns discovered from `col=value` directory
    * names in depth order.
    */
  private def scanTree(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : (Seq[org.apache.hadoop.fs.FileStatus], Seq[String]) = {
    val files = scala.collection.mutable.ListBuffer.empty[org.apache.hadoop.fs.FileStatus]
    val partCols = scala.collection.mutable.LinkedHashSet.empty[String]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) ()
        else if (st.isDirectory) {
          val eq = n.indexOf('=')
          if (eq > 0) partCols += n.substring(0, eq)
          walk(st.getPath)
        } else files += st
      }
    walk(root)
    (files.toList, partCols.toList)
  }
}
