package graft.operators

import graft.sinks.Sink
import graft.sources.CsvSource
import graft.sources.Discovery.{Csv, InputFile}
import graft.util.Par
import java.io.{BufferedInputStream, InputStream, OutputStream}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** CSV->CSV concatenation at byte level — the conversion fast path.
  *
  * The reference's "streaming concatenation" throughput target (README.md:68,
  * measured in benches/throughput.rs:24-29 as raw file read/write) is only
  * reachable by NOT re-rendering every cell. This operator does what fast
  * native CSV engines do: a single quote-aware byte scan per file that
  * simultaneously (a) VALIDATES the file is a pure pass-through — no field
  * equals an NA value needing normalization, every row has exactly the
  * header's column count, quoting is RFC-4180-clean — (b) counts rows, and
  * (c) streams the bytes to the output. A file that fails validation is
  * re-processed record-by-record (univocity parse -> NA normalize ->
  * pad/truncate -> render), so the OUTPUT VALUES are identical to the
  * all-string Concat+Sink path in every case; only incidental representation
  * (gratuitous source quoting) is preserved rather than re-rendered.
  *
  * Scale shape: single-file output (`-o out.csv`, the reference's one-file
  * contract) streams every input on the DRIVER, in discovery order, into
  * one temp file — no Spark job, no staged parts to re-read. Each file is
  * scanned twice there: a validate pass into a discarding stream, then the
  * copy (or the record fallback) into the merged file, so a dirty file
  * never leaves half its bytes in the output. Every byte funnels through
  * one writer under that contract anyway (the same bottleneck as Sink's
  * coalesce(1)), so validation moving from executors to the driver costs
  * no parallelism the output could use. Multi-file output is the scale
  * path: one task per input file (a files RDD — genuine per-partition
  * imperative byte I/O, the documented last-resort case) writes its own
  * part, which the driver renames to a deterministic final name. Both
  * stream through the Hadoop FS API so local/HDFS/S3 behave alike; no
  * shuffle, no row materialization, and rows keep discovery order.
  */
object CsvByteConcat {

  private val Quote = '"'.toByte
  private val Lf = '\n'.toByte
  private val Cr = '\r'.toByte

  /** Static eligibility: option combinations that force the record path.
    * Beyond the shared byte-path gate, the parser and NA rules below.
    */
  def eligible(cfg: Concat.Config, sink: Sink.Config): Boolean =
    BytePromote.eligible(cfg, sink, Csv) &&
      // the byte path is value-identical to the ALL-STRING typed plan; with
      // type inference on, the typed fallback re-renders values ("007"->7,
      // "1e3"->1000.0), so only fire when the fallback would be all-string
      (cfg.rawPassThrough || !cfg.csv.inferTypes) &&
      cfg.csv.headers &&
      // ASCII-only: the byte scanner compares single bytes, and a non-ASCII
      // delimiter's UTF-8 continuation byte can collide with continuation
      // bytes of DATA characters (e.g. '¦' 0xC2A6 vs 'Ц' 0xD0A6), falsely
      // validating a wrong-arity row as clean
      cfg.csv.delimiter.length == 1 && cfg.csv.delimiter.charAt(0) < 0x80 &&
      sink.delimiter == cfg.csv.delimiter &&
      cfg.csv.quote == "\"" &&
      cfg.csv.encoding.equalsIgnoreCase("UTF-8") &&
      // a non-empty output NA string means EMPTY source fields must be
      // re-rendered (null -> naString) — not a pass-through; and the scanner
      // needs at least one NA value (maxNa sizing) without CSV
      // metacharacters (escape-aware matching would be required)
      sink.naString.isEmpty &&
      cfg.csv.naValues.nonEmpty &&
      cfg.csv.naValues.forall(v =>
        v.nonEmpty && v.length <= 32 &&
          !v.exists(c => c == '"' || c == '\n' || c == '\r') &&
          !v.contains(cfg.csv.delimiter))

  /** Run the byte path if every input is CSV with byte-identical headers.
    * Returns write metrics like [[Sink.write]]; None = not applicable,
    * caller falls back to the typed pipeline.
    */
  def tryRun(spark: SparkSession, files: Seq[InputFile], cfg: Concat.Config,
      sink: Sink.Config): Option[Map[String, Any]] = {
    if (!eligible(cfg, sink) || !BytePromote.copyable(files, Csv)) return None
    val hconf = spark.sparkContext.hadoopConfiguration
    // driver pre-flight: first line of every file must be byte-identical
    // (then no renaming/reordering/widening is possible) and BOM-free
    val headers = Par.map(files) { f =>
      val p = new Path(f.path)
      val fs = p.getFileSystem(hconf)
      val in = new BufferedInputStream(fs.open(p), 64 * 1024)
      try readLine(in) finally in.close()
    }
    val header = headers.head
    if (header == null || header.isEmpty) return None
    if (header.length >= 3 && (header(0) & 0xff) == 0xef &&
      (header(1) & 0xff) == 0xbb && (header(2) & 0xff) == 0xbf) return None
    if (!headers.forall(h => h != null && java.util.Arrays.equals(h, header))) return None
    // unification always emits columns in sorted order (the reference's
    // from_schemas behavior, schema.rs:101-102) — a pure copy is only
    // order-faithful when the source header is ALREADY in unified order.
    // Any file maw itself wrote satisfies this, so chained concats stay on
    // the fast path. Quoted or duplicate header names: decline.
    val names = new String(header, "UTF-8").split(java.util.regex.Pattern.quote(cfg.csv.delimiter), -1).toSeq
    if (names.exists(n => n.contains("\"") || n.isEmpty)) return None
    if (names.distinct != names || names.sorted != names) return None

    val delim = cfg.csv.delimiter.charAt(0).toByte
    val width = countFields(header, delim)
    val naBytes = cfg.csv.naValues.map(_.getBytes("UTF-8")).toArray
    val naOut = sink.naString
    val bufBytes = sink.writerBufferBytes
    val csvOpts = cfg.csv
    val single = sink.singleFile
    // The closure is shipped to tasks, so it calls object methods only.
    Some(BytePromote.run(spark, sink, ".csv", files.map(_.path)) { (conf, staged) =>
      def open(): OutputStream = {
        val o = BytePromote.create(conf, staged, bufBytes)
        o.write(header); o.write(Lf.toInt); o
      }
      def copyClean(fs: FileSystem, p: Path, o: OutputStream): Option[Long] =
        opened(fs, p) { in => skipLine(in); scanAndCopy(in, o, delim, naBytes, width) }
      def rewrite(fs: FileSystem, p: Path, o: OutputStream): Long =
        opened(fs, p)(parseAndRender(_, o, csvOpts, naOut, width))
      if (single) new BytePromote.Staged {
        // ONE merged file, headerless bodies after the one header. A dirty
        // file is found before any of its bytes reach the merged stream: a
        // validate pass into a discarding stream, then the clean copy or
        // the record fallback.
        private val out = open()
        def append(fs: FileSystem, p: Path): Long =
          if (copyClean(fs, p, OutputStream.nullOutputStream()).isEmpty) rewrite(fs, p, out)
          else copyClean(fs, p, out).getOrElse(
            throw new java.io.IOException(s"$p changed while it was being copied"))
        def close(): Unit = out.close()
      } else new BytePromote.Staged {
        // one input per part: validate + copy in one pass; if dirty, rewrite
        // the whole part record-by-record (reopening truncates it cleanly
        // because the first stream is closed first)
        def append(fs: FileSystem, p: Path): Long = {
          def withOut[A](f: OutputStream => A): A = {
            val o = open()
            try f(o) finally o.close()
          }
          withOut(copyClean(fs, p, _)).getOrElse(withOut(rewrite(fs, p, _)))
        }
        def close(): Unit = ()
      }
    })
  }

  /** Read one line's bytes (without LF / trailing CR); null on empty EOF. */
  private def readLine(in: InputStream): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(256)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != Lf) {
      buf.write(b)
      b = in.read()
    }
    val arr = buf.toByteArray
    if (arr.nonEmpty && arr(arr.length - 1) == Cr) arr.dropRight(1) else arr
  }

  private def opened[A](fs: FileSystem, p: Path)(f: InputStream => A): A = {
    val in = new BufferedInputStream(fs.open(p), 1 << 20)
    try f(in) finally in.close()
  }

  private def skipLine(in: InputStream): Unit = {
    var b = in.read()
    while (b >= 0 && b != Lf) b = in.read()
  }

  private def countFields(line: Array[Byte], delim: Byte): Int = {
    var n = 1; var i = 0; var inQ = false
    while (i < line.length) {
      val b = line(i)
      if (b == Quote) inQ = !inQ
      else if (b == delim && !inQ) n += 1
      i += 1
    }
    n
  }

  /** One pass: stream `in` to `out` while validating that the all-string
    * typed path would emit the same values. Returns Some(rowCount) when
    * clean; None the moment a row would need normalization (NA field /
    * wrong arity / non-RFC quoting / bare CR / quoted newline) — the caller
    * then falls back to record-level processing. Assumes the header line is
    * already consumed; writes body bytes only, LF-terminated.
    */
  private def scanAndCopy(in: InputStream, out: OutputStream, delim: Byte,
      naValues: Array[Array[Byte]], width: Int): Option[Long] = {
    val buf = new Array[Byte](1 << 20)
    val maxNa = naValues.map(_.length).max
    val field = new Array[Byte](maxNa + 1) // first bytes of the current field
    var fieldLen = 0       // true length (bytes beyond maxNa aren't kept)
    var atFieldStart = true
    var inQuotes = false
    var afterQuote = false // just closed a quoted section
    var pendingCr = false
    var fields = 1
    var rows = 0L
    var lineHasContent = false
    var lastByte: Byte = Lf
    var wroteAny = false

    def fieldMatchesNa(): Boolean = {
      if (fieldLen == 0 || fieldLen > maxNa) return false
      var i = 0
      while (i < naValues.length) {
        val na = naValues(i)
        if (na.length == fieldLen) {
          var j = 0
          var ok = true
          while (j < fieldLen && ok) { ok = na(j) == field(j); j += 1 }
          if (ok) return true
        }
        i += 1
      }
      false
    }
    def endField(): Boolean = {
      val clean = !fieldMatchesNa()
      fieldLen = 0; atFieldStart = true; afterQuote = false
      clean
    }
    def endRow(): Boolean = {
      if (!endField()) return false
      val ok = fields == width || !lineHasContent // blank lines are skipped by the parser
      if (lineHasContent) rows += 1
      fields = 1; lineHasContent = false
      ok
    }

    var n = in.read(buf)
    while (n >= 0) {
      var i = 0
      while (i < n) {
        val b = buf(i)
        if (pendingCr && b != Lf) return None // bare CR: univocity normalizes it
        if (inQuotes) {
          if (b == Quote) { inQuotes = false; afterQuote = true }
          else if (b == Lf || b == Cr) return None // quoted newline: Spark's line-split parser breaks here
          else { if (fieldLen < field.length) field(fieldLen) = b; fieldLen += 1 }
          lineHasContent = true
        } else if (b == Quote) {
          if (afterQuote) { // "" escape: field contains a literal quote
            inQuotes = true
            if (fieldLen < field.length) field(fieldLen) = b
            fieldLen += 1
          } else if (atFieldStart) {
            inQuotes = true; atFieldStart = false
          } else return None // mid-field quote: parser-dependent rendering
          lineHasContent = true
        } else if (b == delim) {
          if (!endField()) return None
          fields += 1
          lineHasContent = true
        } else if (b == Lf) {
          pendingCr = false
          if (!endRow()) return None
        } else if (b == Cr) {
          pendingCr = true
        } else if (afterQuote) {
          return None // bytes after a closing quote: malformed
        } else {
          if (fieldLen < field.length) field(fieldLen) = b
          fieldLen += 1
          atFieldStart = false
          lineHasContent = true
        }
        i += 1
      }
      out.write(buf, 0, n)
      if (n > 0) { lastByte = buf(n - 1); wroteAny = true }
      n = in.read(buf)
    }
    if (inQuotes || pendingCr) return None
    if (lineHasContent || fieldLen > 0) { if (!endRow()) return None }
    // make sure the body is LF-terminated so concatenated parts can't
    // merge the last row of one file into the next file's first row
    if (wroteAny && lastByte != Lf) out.write(Lf.toInt)
    Some(rows)
  }

  /** Record-level fallback for a dirty file: univocity parse -> NA
    * normalization + pad/truncate to the header width -> univocity render.
    * Exactly the all-string Concat+Sink semantics, for one file, one pass.
    */
  private def parseAndRender(in: InputStream, out: OutputStream,
      opts: CsvSource.CsvOptions, naOut: String, width: Int): Long = {
    import com.univocity.parsers.csv.{CsvParser, CsvParserSettings, CsvWriter, CsvWriterSettings}
    val ps = new CsvParserSettings
    ps.getFormat.setDelimiter(opts.delimiter.charAt(0))
    ps.getFormat.setQuote(opts.quote.charAt(0))
    ps.setMaxCharsPerColumn(-1) // unlimited, like the typed path's Spark default
    ps.setHeaderExtractionEnabled(true)
    // match Spark's univocity read settings: whitespace is DATA, and a
    // quoted "" is the empty string, not null (univocity's defaults trim
    // and null-ify, which would diverge from the typed path)
    ps.setIgnoreLeadingWhitespaces(false)
    ps.setIgnoreTrailingWhitespaces(false)
    ps.setEmptyValue("")
    val parser = new CsvParser(ps)
    val ws = new CsvWriterSettings
    ws.getFormat.setDelimiter(opts.delimiter.charAt(0))
    ws.getFormat.setQuote('"')
    ws.setNullValue(naOut)
    ws.setEmptyValue("")
    ws.setQuoteAllFields(false)
    ws.setIgnoreLeadingWhitespaces(false)
    ws.setIgnoreTrailingWhitespaces(false)
    // like Spark's writer: a value containing a quote gets quoted+doubled
    // even without a delimiter/newline (RFC 4180 forbids bare quotes)
    ws.setQuoteEscapingEnabled(true)
    val writer = new CsvWriter(new java.io.OutputStreamWriter(out, "UTF-8"), ws)
    parser.beginParsing(new java.io.InputStreamReader(in, "UTF-8"))
    var rows = 0L
    var rec = parser.parseNext()
    while (rec != null) {
      val row = new Array[String](width)
      var i = 0
      while (i < width) {
        val v = if (i < rec.length) rec(i) else null
        row(i) = if (v == null || opts.naValues.contains(v)) null else v
        i += 1
      }
      writer.writeRow(row.asInstanceOf[Array[AnyRef]]: _*)
      rows += 1
      rec = parser.parseNext()
    }
    writer.flush()
    rows
  }
}
