package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** Output side of the reference pipeline: one writer definition per format
  * and one promote, shared by every write graft makes.
  *
  *   - [[writer]] is the one definition of how each format is written (the
  *     reference's writer_csv / writer_parquet): CSV's header, `--na`
  *     string (default empty, writer_csv.rs:33), delimiter and RFC 4180
  *     quoting (writer_csv.rs:38-126); Parquet's compression
  *     none/snappy/gzip/zstd (cli.rs:79-86), zstd level and 128MB row
  *     groups (`writer_parquet.rs:33-57` — the reference's data write is a
  *     stub `:77-96`; ours is real); ORC, Avro, JSONL and XML alongside. The batch write below and the streaming sink
  *     (graft.streaming.StreamingConcat) both write through it.
  *   - Rolling output `--roll-by-rows` (cli.rs:70-77, unimplemented there) via
  *     `maxRecordsPerFile`; `--roll-by-bytes` approximated from sampled row size
  *   - Single-file output contract (`-o out.csv` = one file): `coalesce(1)` +
  *     part-file promotion. NOTE: single-file output is inherently a
  *     one-writer bottleneck; at cluster scale prefer `singleFile=false`
  *     (rolled parts).
  *   - [[promoteStaged]] is the one rename of staged files onto the output
  *     contract, for this sink and for the byte fast paths
  *     (graft.operators.CsvByteConcat, JsonByteConcat, ParquetByteConcat),
  *     which never run this sink's write: they copy a single file on the
  *     driver with no Spark job, and rolled parts with one task per input.
  */
object Sink {

  final case class Config(
      path: String,
      format: graft.sources.Discovery.Format,
      compression: String = "zstd", // none|snappy|gzip|zstd (cli.rs:79-86)
      zstdLevel: Int = 3,           // cli.rs:84-86, writer_parquet.rs:53
      naString: String = "",        // writer_csv.rs:33
      delimiter: String = ",",
      rollByRows: Option[Long] = None,
      rollByBytes: Option[Long] = None,
      singleFile: Boolean = true,
      /** Byte-path output buffer (P1 --writer-buffer, cli.rs:93-95). */
      writerBufferBytes: Int = 1 << 20,
      /** Write rows in the plan's partition order (no rebalance). The
        * reference's single-writer contract keeps input order
        * (README.md:77), but the plan's order is only discovery order
        * across scan groups: inside one multi-file scan Spark packs files
        * by size, largest first (see Concat.planFor). The byte fast paths
        * do keep discovery order. When order is NOT required
        * (rolled/directory output), setting this false repartitions up to
        * the session's parallelism so narrow single-partition inputs still
        * write with every core.
        */
      preserveOrder: Boolean = true,
      /** Hive-style partitioned layout (`--partition-by lang,split`):
        * `path/lang=en/part-*.parquet`. The 100-TB layout primitive — a
        * downstream read filtering on a partition column prunes whole
        * directories at planning time instead of scanning and discarding.
        * Directory output by definition: overrides the single-file
        * contract and part promotion. Layout caveat (inherent to hive
        * trees, not this sink): null and "" partition values both land in
        * `col=__HIVE_DEFAULT_PARTITION__` and read back as null; partition
        * values round-trip as the directory-name STRING rendering
        * (readBack pins them to string — no re-inference).
        */
      partitionBy: Seq[String] = Nil,
      /** Range-clustered layout (`--cluster-by l_orderkey[,col2]`): rows are
        * range-repartitioned AND sorted within partitions on these columns
        * before the write, so every output file (and row group) covers a
        * NARROW slice of the clustering key's domain. Downstream reads
        * filtering on the key then prune whole files/row groups from their
        * min/max footer stats — the single-dimension data-skipping layout
        * primitive (pair with `bloomFilterCols` for point lookups, and see
        * the z-order multi-column variant). Implies directory/rolled
        * output semantics are unchanged; overrides the plain rebalance
        * hint (clustering IS the partitioning).
        */
      clusterBy: Seq[String] = Nil,
      /** Writer-side bloom filters (`--bloom-filter col1,col2`): parquet
        * (`parquet.bloom.filter.enabled#col`) and ORC
        * (`orc.bloom.filter.columns`) persist per-row-group/stripe bloom
        * filters so point-predicate reads skip blocks min/max stats can't
        * (high-cardinality unsorted keys). No-op for text formats.
        */
      bloomFilterCols: Seq[String] = Nil,
      /** Z-order clustering (`--zorder-by c1,c2`): the MULTI-column
        * data-skipping layout — see [[graft.operators.ZOrder]]. Mutually
        * exclusive with `clusterBy` (one layout per write).
        */
      zorderBy: Seq[String] = Nil)

  /** Write and report metrics (rows written) — the batch-mode analog of the
    * reference's progress tracker totals (progress.rs:6-197), collected via
    * `Dataset.observe` so it costs one counter per task, no extra pass.
    */
  def write(df0: DataFrame, cfg: Config): Map[String, Any] = {
    val obs = new org.apache.spark.sql.Observation()
    writeInternal(df0, cfg, Some(obs))
    org.apache.spark.sql.graftbridge.ColumnBridge.observed(obs)
  }

  private def writeInternal(df0: DataFrame, cfg: Config,
      obs: Option[org.apache.spark.sql.Observation] = None): Unit = {
    // before ANY plan building: the rebalance hint below references the
    // partition columns, so a missing one must fail with a readable
    // message, not an analyzer exception
    val missing = cfg.partitionBy.filterNot(df0.columns.contains)
    require(missing.isEmpty, s"--partition-by columns not in data: ${missing.mkString(", ")}")
    val missingCluster = (cfg.clusterBy ++ cfg.bloomFilterCols ++ cfg.zorderBy)
      .filterNot(df0.columns.contains)
    require(missingCluster.isEmpty,
      s"--cluster-by/--bloom-filter/--zorder-by columns not in data: ${missingCluster.mkString(", ")}")
    require(cfg.clusterBy.isEmpty || cfg.zorderBy.isEmpty,
      "--cluster-by and --zorder-by are mutually exclusive (one layout per write)")
    // z-ranges don't align with hive partition values: each range task would
    // write into MANY col=value dirs (the small-files failure mode). Cluster
    // WITHIN hive dirs is --partition-by + --cluster-by; cross-partition
    // z-order needs a per-partition boundary pass — not supported yet.
    require(cfg.partitionBy.isEmpty || cfg.zorderBy.isEmpty,
      "--zorder-by does not compose with --partition-by (use --cluster-by to " +
        "cluster within hive directories)")
    // NullType columns (all-null sources) aren't writable in CSV/Parquet;
    // they materialize as string-typed all-null columns
    val df1 = df0.select(df0.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.NullType)
        org.apache.spark.sql.functions.lit(null).cast("string").as(f.name)
      else org.apache.spark.sql.functions.col(graft.schema.SchemaUnifier.quoted(f.name))
    }.toIndexedSeq: _*)
    // multi-file output trades input order for write parallelism: an AQE
    // REBALANCE (the pre-write hint) right-sizes partitions at runtime —
    // splits too-big, merges too-small — without the .rdd partition peek
    // that would force physical planning just to decide.
    // Partitioned layout rebalances BY the partition columns regardless of
    // preserveOrder (a hive tree has no row-order or single-file contract):
    // clustering rows by value means each col=... directory gets a few
    // right-sized files instead of one small file per (task x value) — the
    // small-files problem IS the failure mode of partitioned writes at
    // scale — while AQE still splits skewed values across tasks
    // range-clustering comes FIRST: repartitionByRange gives each task a
    // contiguous key slice (sampled range boundaries — one extra sampling
    // pass, the price of the layout), and the within-partition sort makes
    // every ROW GROUP inside a file narrow too, which is what footer-stat
    // pruning actually reads. With partitionBy the hive columns lead the
    // range so each col=value directory still gets clustered files.
    val clusterCols = (cfg.partitionBy ++ cfg.clusterBy)
      .map(c => org.apache.spark.sql.functions.col(graft.schema.SchemaUnifier.quoted(c)))
    val df2 =
      if (cfg.zorderBy.nonEmpty)
        graft.operators.ZOrder.cluster(df1, cfg.zorderBy)
      else if (cfg.clusterBy.nonEmpty)
        // explicit count: an implicit-count range shuffle is fair game for
        // AQE coalescing, which would fold the layout back into one file
        df1.repartitionByRange(
          df1.sparkSession.sessionState.conf.numShufflePartitions, clusterCols: _*)
          .sortWithinPartitions(clusterCols: _*)
      else if (cfg.partitionBy.nonEmpty)
        df1.hint("rebalance", cfg.partitionBy.map(c =>
          org.apache.spark.sql.functions.col(graft.schema.SchemaUnifier.quoted(c))): _*)
      else if (cfg.preserveOrder || cfg.singleFile) df1
      else df1.hint("rebalance")
    // bytes->rows estimate runs on the UN-observed plan: an action on the
    // observed one would complete the Observation with the sample's partial
    // count and the real write's metrics would be discarded
    val maxRecords: Option[Long] = cfg.rollByBytes match {
      case Some(bytes) =>
        val sample = df2.limit(1000).collect()
        val avg = if (sample.isEmpty) 100.0
          else sample.map(_.mkString(",").length + 1).sum.toDouble / sample.length
        Some(math.max(1L, (bytes / math.max(avg, 1.0)).toLong))
      case None => cfg.rollByRows
    }
    // the row-count observation attaches directly under the write, AFTER any
    // sampling action
    val df = obs.map(o => df2.observe(o, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows_written"))).getOrElse(df2)
    val (format, options) = writer(cfg)
    val hconf = df0.sparkSession.sparkContext.hadoopConfiguration
    val ext = extFor(cfg.format)
    val tmpDir = new org.apache.hadoop.fs.Path(cfg.path + ".spark-out")
    val rolled = maxRecords.map(df.writeConfRows).getOrElse(df.write)
    if (cfg.partitionBy.nonEmpty) {
      // partitioned layout: a directory tree is the contract, so no
      // single-file promotion and no rolled-part renaming. maxRecordsPerFile
      // still bounds file sizes within each partition directory.
      // Staged like every other path (.spark-out, then rename into place):
      // writing straight to cfg.path with overwrite would destroy the prior
      // output at JOB START, so a crash mid-write leaves neither old nor new
      // tree at the contract path.
      val target = new org.apache.hadoop.fs.Path(cfg.path)
      val fs = target.getFileSystem(hconf)
      // fail fast BEFORE the (possibly hours-long) write: if the contract
      // path holds a directory that doesn't look like our output, the
      // promote below would refuse anyway — surface that now
      if (fs.exists(target) && fs.getFileStatus(target).isDirectory)
        require(looksLikeSinkOutput(fs, target),
          s"refusing to overwrite ${cfg.path}: the existing directory does not " +
            "look like graft output (no _SUCCESS, part-* files, or col=value " +
            "subdirectories) — move it aside or choose another -o path")
      rolled.partitionBy(cfg.partitionBy: _*).mode("overwrite")
        .format(format).options(options).save(tmpDir.toString)
      // the whole tree is the one staged entry; the stale-part sweep also
      // clears rolled parts an earlier non-partitioned run left at the same
      // contract path, which would confuse readBack/--verify
      promoteStaged(hconf, cfg.path, ext, tmpDir, Seq(tmpDir), single = true)
    } else {
      // clusterBy keeps one file per range partition (coalesce(1) would fold
      // the ranges back together and lose the within-file sort): the output
      // promotes as rolled -NNNN parts in range order
      val out = if (cfg.singleFile && cfg.rollByRows.isEmpty && cfg.rollByBytes.isEmpty
          && cfg.clusterBy.isEmpty && cfg.zorderBy.isEmpty)
        df.coalesce(1).write else rolled
      out.mode("overwrite").format(format).options(options).save(tmpDir.toString)
      // Hadoop FS API throughout (NOT java.nio): the write itself runs on any
      // Hadoop filesystem, so the rename step must too — java.nio on an
      // hdfs:///s3a:// output would fail AFTER a successful write, stranding
      // the .spark-out dir with no output at the contract path
      val parts = tmpDir.getFileSystem(hconf).listStatus(tmpDir)
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(_.getPath).sortBy(_.getName).toSeq
      promoteStaged(hconf, cfg.path, ext, tmpDir, parts,
        single = parts.size == 1 && cfg.singleFile)
    }
  }

  /** Output-path extension per format — the promote/stale-sweep/readBack
    * contract suffix.
    */
  private def extFor(fmt: graft.sources.Discovery.Format): String = fmt match {
    case graft.sources.Discovery.Csv     => ".csv"
    case graft.sources.Discovery.Parquet => ".parquet"
    case graft.sources.Discovery.Orc     => ".orc"
    case graft.sources.Discovery.Avro    => ".avro"
    case graft.sources.Discovery.Jsonl   => ".jsonl"
    case graft.sources.Discovery.Xml     => ".xml"
  }

  /** The one definition of how each format is written: the writer's format
    * name and options, for the batch `DataFrameWriter` and the streaming
    * `DataStreamWriter` alike.
    *
    *   - CSV: header once, the `--na` string for nulls (writer_csv.rs:33),
    *     RFC 4180 output — doubled embedded quotes, not backslash-escape —
    *     and field whitespace kept: Spark's write defaults TRIM unquoted
    *     whitespace, which would silently alter values on a pure concat.
    *   - Parquet: `--compression` codec, `--zstd-level`
    *     (writer_parquet.rs:53), 128 MB row groups (writer_parquet.rs:35),
    *     per-column bloom filters ([[Config.bloomFilterCols]]).
    *   - ORC: the same codec, zstd level, 128 MB stripe target and bloom
    *     filters, through ORC's own keys.
    *   - Avro: the codec only. The zstd LEVEL rides a session conf, not a
    *     writer option, so it is not plumbed (the level knob stays
    *     parquet's and orc's contract); the container format carries no
    *     bloom filters.
    *   - JSONL: uncompressed text like the CSV sink (a `.gz` payload behind
    *     a `.jsonl` name would break the `-o out.jsonl` promotion contract).
    *     Nulls are written EXPLICITLY (`"k":null`): an all-null column must
    *     survive the round trip as a key, not vanish from the schema.
    *   - XML: uncompressed text; `rowTag` is
    *     [[graft.sources.XmlSource.XmlOptions]]'s default so the output
    *     reads back through the same source without configuration. Nulls
    *     write as ABSENT elements, so an all-null column (as in CSV) carries
    *     no type evidence.
    */
  private[graft] def writer(cfg: Config): (String, Map[String, String]) = {
    import graft.sources.Discovery._
    val rowGroup = (128L * 1024 * 1024).toString
    cfg.format match {
      case Csv => "csv" -> Map("header" -> "true", "delimiter" -> cfg.delimiter,
        "nullValue" -> cfg.naString, "emptyValue" -> "", "escape" -> "\"",
        "ignoreLeadingWhiteSpace" -> "false", "ignoreTrailingWhiteSpace" -> "false")
      case Parquet => "parquet" -> (Map(
        "compression" -> codec(Parquet, cfg.compression),
        "parquet.compression.codec.zstd.level" -> cfg.zstdLevel.toString,
        "parquet.block.size" -> rowGroup) ++
        cfg.bloomFilterCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true"))
      case Orc => "orc" -> (Map(
        "compression" -> codec(Orc, cfg.compression),
        "orc.compression.zstd.level" -> cfg.zstdLevel.toString,
        "orc.stripe.size" -> rowGroup) ++
        Option.when(cfg.bloomFilterCols.nonEmpty)(
          "orc.bloom.filter.columns" -> cfg.bloomFilterCols.mkString(",")))
      case Avro  => AvroClass -> Map("compression" -> codec(Avro, cfg.compression))
      case Jsonl => "json" -> Map("ignoreNullFields" -> "false")
      case Xml   => "xml" -> Map("rowTag" -> "row")
    }
  }

  /** The `--compression` value (none|snappy|gzip|zstd, cli.rs:79-86) in the
    * codec names of a columnar format: ORC spells gzip's deflate "zlib",
    * Avro spells it deflate and zstd zstandard; other values pass
    * through.
    */
  private[graft] def codec(fmt: graft.sources.Discovery.Format, compression: String): String = {
    import graft.sources.Discovery.{Avro, Orc}
    (fmt, compression) match {
      case (Orc, "none")  => "none"
      case (_, "none")    => "uncompressed"
      case (Orc, "gzip")  => "zlib"
      case (Avro, "gzip") => "deflate"
      case (Avro, "zstd") => "zstandard"
      case (_, other)     => other
    }
  }

  private implicit class RollOps(df: DataFrame) {
    def writeConfRows(rows: Long) = df.write.option("maxRecordsPerFile", rows.toString)
  }

  /** Re-read what [[write]] produced (single file or rolled `-NNNN` parts)
    * — used by the CLI's `--verify` integrity check (S2), and by
    * [[graft.operators.Compact]] for the tree it rewrites. Hadoop FS API,
    * not java.io: the write supports any Hadoop filesystem, so verify must
    * too. The rolled-part filter is the SAME 4-7-digit-index rule as
    * [[deleteStaleParts]] — a looser glob would fold user sibling files
    * (`out-backup.csv`, date-suffixed outputs) into the verification and
    * fail a correct write.
    */
  def readBack(spark: org.apache.spark.sql.SparkSession, path: String,
      fmt: graft.sources.Discovery.Format, delimiter: String = ","): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val ext = extFor(fmt)
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isDir = fs.exists(p) && fs.getFileStatus(p).isDirectory
    val paths: Seq[String] =
      if (fs.exists(p) && fs.getFileStatus(p).isFile) Seq(path)
      // partitioned layout (`partitionBy` nonEmpty) writes a directory tree
      // at the contract path; Spark's reader re-discovers the partition
      // columns from the `col=value` directory names
      else if (isDir) Seq(path)
      else {
        val prefix = p.getName.stripSuffix(ext) + "-"
        val parent = Option(p.getParent).getOrElse(new HPath("."))
        val listed =
          if (fs.exists(parent)) fs.listStatus(parent)
          else Array.empty[org.apache.hadoop.fs.FileStatus]
        listed.filter { st =>
          val name = st.getPath.getName
          st.isFile && name.startsWith(prefix) && name.endsWith(ext) && {
            val idx = name.substring(prefix.length, name.length - ext.length)
            idx.length >= 4 && idx.length <= 7 && idx.forall(_.isDigit)
          }
        }.map(_.getPath.toString).toSeq.sorted
      }
    require(paths.nonEmpty, s"no output found at $path")
    def read(): DataFrame = fmt match {
      case graft.sources.Discovery.Csv =>
        // multiLine: a value with an embedded newline is one quoted field
        // (the input reader's default too), not two records
        spark.read.option("header", "true").option("sep", delimiter)
          .option("escape", "\"").option("multiLine", "true").csv(paths: _*)
      case graft.sources.Discovery.Parquet => spark.read.parquet(paths: _*)
      case graft.sources.Discovery.Orc     => spark.read.orc(paths: _*)
      case graft.sources.Discovery.Avro    =>
        spark.read.format(graft.sources.Discovery.AvroClass).load(paths: _*)
      // full-pass native inference, not the bounded sample: verify wants
      // every value's type evidence (JSON carries types, so nothing drifts)
      case graft.sources.Discovery.Jsonl   => spark.read.json(paths: _*)
      // native inference full pass, like JSONL: verify wants every value;
      // no trimming — the scan must agree byte-for-byte with the plan side
      case graft.sources.Discovery.Xml     =>
        spark.read.format("xml").option("rowTag", "row")
          .option("ignoreSurroundingSpaces", "false").load(paths: _*)
    }
    // partition-column TYPE INFERENCE would re-type the directory names
    // ("source=007" -> int 7), silently altering values the writer was
    // given as strings; read partition values back verbatim. Schema
    // resolution is eager at the read call, so restoring after is safe.
    if (isDir)
      graft.util.Conf.withConf(spark,
        "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false")(read())
    else read()
  }

  /** Order-insensitive row checksum for `--verify` (S2): sum over rows of
    * xxhash64 of the row's canonical string rendering, accumulated as
    * DECIMAL(38,0) (ANSI mode would throw on a bigint SUM overflow; decimal
    * can't overflow at any realistic row count). Catches count-preserving
    * corruption that the row-count compare alone can't.
    *
    * `csvNullRep`: CSV output can't distinguish null from the NA string (or
    * from "" when naString is empty), so for CSV both fold to the NA string
    * on BOTH sides before hashing — plan-side nulls render the way the
    * writer renders them, read-back empty cells parse back the way the
    * reader parses them, and the two representations agree. (The caller
    * drops timestamp columns for CSV — their text format is a writer
    * option, not a value property.) Parquet round-trips types exactly, so
    * `None` hashes the plain string cast.
    */
  def rowChecksum(df: DataFrame, csvNullRep: Option[String]): java.math.BigDecimal = {
    import org.apache.spark.sql.functions._
    val cols = df.schema.fields.map { f =>
      val base = col(graft.schema.SchemaUnifier.quoted(f.name)).cast("string")
      csvNullRep match {
        case Some(rep) => coalesce(nullif(base, lit("")), lit(if (rep.isEmpty) "\u0000" else rep))
        case None      => coalesce(base, lit("\u0000"))
      }
    }
    val agg = df
      .select(xxhash64(struct(cols.toIndexedSeq: _*))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("h"))
      .agg(sum(col("h")).as("checksum"))
      .collect().head
    if (agg.isNullAt(0)) java.math.BigDecimal.ZERO else agg.getDecimal(0)
  }

  /** Delete output files a PREVIOUS run left that this run didn't rewrite:
    * rolled parts `base-NNNN.ext` with index >= `keepBelow`, and (when this
    * run writes parts, keepBelow > 0) a stale single file at `path` itself.
    * Without this, a re-run over fewer inputs leaves a mix of new and stale
    * parts that [[readBack]] / `--verify` silently glob back in.
    */
  private def deleteStaleParts(hconf: org.apache.hadoop.conf.Configuration,
      path: String, ext: String, keepBelow: Int): Unit = {
    // list-and-filter, never glob: glob metacharacters in the user's path
    // ({}[]*?) would be interpreted as patterns and could match — and
    // delete — unrelated files. Parts are `<base>-<idx><ext>` where idx is
    // 4 digits from %04d but 5+ once the part count passes 10000.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val parent = Option(p.getParent).getOrElse(new org.apache.hadoop.fs.Path("."))
    val prefix = p.getName.stripSuffix(ext) + "-"
    val listed =
      if (fs.exists(parent)) fs.listStatus(parent) else Array.empty[org.apache.hadoop.fs.FileStatus]
    listed.foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name.startsWith(prefix) && name.endsWith(ext)) {
        val idx = name.substring(prefix.length, name.length - ext.length)
        // valid part indexes are %04d-padded, widening only past 10k parts:
        // accept widths 4..7 (10M parts — beyond the single-directory regime
        // this sink targets). The cap keeps 8+-digit sibling files the user
        // may have placed next to the output (date-suffixed `base-20260812`)
        // out of the deletion scope, and makes toInt overflow impossible.
        if (idx.length >= 4 && idx.length <= 7 && idx.forall(_.isDigit) &&
            idx.toInt >= keepBelow)
          fs.delete(st.getPath, false)
      }
    }
    if (keepBelow > 0 && fs.exists(p)) {
      // stale single file — or a stale partitioned TREE, which would
      // otherwise shadow the fresh rolled parts in readBack's directory
      // branch — left by a previous run with different output options.
      // The recursive case is gated: a pre-existing user directory at the
      // contract path fails loudly instead of being wiped.
      if (fs.getFileStatus(p).isDirectory) deleteOutputDir(fs, p)
      else fs.delete(p, false)
    }
  }

  /** True iff `dir` is plausibly output THIS sink (or a Spark job) wrote:
    * empty, or containing a _SUCCESS marker, part files, hidden bookkeeping
    * (.crc, .spark-out leftovers), or hive `col=value` subdirectories.
    * Recursive deletes consult this before touching an existing directory —
    * a user directory that merely happens to sit at the `-o` path (photos/,
    * a source tree) matches none of these and must survive the run.
    */
  private[graft] def looksLikeSinkOutput(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean = {
    val listed = fs.listStatus(dir)
    // hidden entries count as evidence ONLY for Spark's own bookkeeping
    // (HIDDEN checksum sidecars: .part-*.crc / ._SUCCESS.crc): a bare
    // n.startsWith(".") would match .git/.DS_Store, and a bare
    // n.endsWith(".crc") would match a user's visible backup.crc — either
    // way marking a precious tree as deletable output
    listed.isEmpty || listed.exists { st =>
      val n = st.getPath.getName
      n == "_SUCCESS" || n.startsWith("part-") || n.startsWith("_") ||
        (n.startsWith(".") && n.endsWith(".crc")) ||
        (st.isDirectory && n.contains("="))
    }
  }

  /** Recursive directory delete gated on [[looksLikeSinkOutput]]; refuses
    * with a readable error otherwise instead of wiping a tree this sink
    * never created.
    */
  private def deleteOutputDir(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit = {
    require(looksLikeSinkOutput(fs, dir),
      s"refusing to overwrite $dir: the existing directory does not look like " +
        "graft output (no _SUCCESS, part-* files, or col=value subdirectories) " +
        "— move it aside or choose another -o path")
    fs.delete(dir, true)
  }

  /** Replace-on-rename move (rename does not replace on all filesystems). */
  private def replaceMove(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit = {
    // recursive when dst is a directory: a stale partitioned tree from an
    // earlier --partition-by run at the same path must not kill (local FS:
    // 'Directory is not empty') or absorb (FS-dependent rename-into-dir)
    // this run's promotion — but only a tree that LOOKS like our output
    // may be recursively replaced
    if (fs.exists(dst) && fs.getFileStatus(dst).isDirectory) deleteOutputDir(fs, dst)
    // rename FIRST: POSIX-backed filesystems overwrite an existing dst file
    // atomically, so a crash in the promote leaves either the old or the
    // new file at dst — never neither (FaultInjectionSpec pins this)
    if (!fs.rename(src, dst)) {
      // filesystems where rename-onto-existing fails by contract (HDFS):
      // delete-then-rename, accepting the narrow no-file window
      if (fs.exists(dst)) fs.delete(dst, false)
      require(fs.rename(src, dst), s"failed to promote $src to $dst")
    }
  }

  /** The one promote step, for every write this sink and the byte fast
    * paths make: rename the staged entries onto the reference's file-path
    * contract — one entry at `path` when `single`, else rolled parts
    * `<base>-0000<ext>`, `<base>-0001<ext>`, ... in `staged` order
    * (README.md:49-50) — then sweep stale parts a previous run left and
    * delete the staging dir `tmpDir`. All new data is fully materialized
    * before anything at the output paths is touched: the destructive window
    * is the renames, not the write. Returns the promoted paths.
    */
  private[graft] def promoteStaged(hconf: org.apache.hadoop.conf.Configuration,
      path: String, ext: String, tmpDir: org.apache.hadoop.fs.Path,
      staged: Seq[org.apache.hadoop.fs.Path], single: Boolean): Seq[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.{Path => HPath}
    val target = new HPath(path)
    val fs = target.getFileSystem(hconf)
    Option(target.getParent).foreach(fs.mkdirs)
    val promoted =
      if (single) Seq(target)
      else staged.indices.map(i => new HPath(f"${path.stripSuffix(ext)}%s-$i%04d$ext%s"))
    staged.zip(promoted).foreach { case (from, to) => replaceMove(fs, from, to) }
    deleteStaleParts(hconf, path, ext, keepBelow = if (single) 0 else staged.size)
    fs.delete(tmpDir, true) // Spark's _SUCCESS and crc files, failed attempts
    promoted
  }
}
