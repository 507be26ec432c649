package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.model.Catalog

/** File export / import — the reference's `COPY TABLE TO/FROM`,
  * `COPY (query) TO` and `COPY DATABASE` statements over the four
  * external file formats (operator/src/statement.rs:269-307,
  * common/datasource/src/file_format/{csv,json,parquet,orc}.rs,
  * SURVEY.md §2.1).
  *
  * JSON is newline-delimited (NDJSON), matching the reference's json
  * file format. Reads accept an explicit schema (the reference infers
  * or takes the target table's); without one, Spark infers. All paths
  * are directories of part files — the natural distributed layout; a
  * single-file export at 100 TB would serialize through one writer.
  */
object Copy {

  final case class Options(
      format: String = "parquet",
      header: Boolean = true,
      delimiter: String = ",",
      compression: Option[String] = None,
      /** glob for COPY FROM, e.g. `*.csv` (copy_table_from.rs pattern) */
      pattern: Option[String] = None)

  private val Formats = Set("parquet", "csv", "json", "orc")

  private def check(fmt: String): String = {
    val f = fmt.toLowerCase
    require(Formats(f), s"unsupported COPY format: $fmt")
    f
  }

  /** COPY <table> TO 'path' WITH (format ...). */
  def tableTo(df: DataFrame, path: String, opts: Options = Options()): Unit = {
    val fmt = check(opts.format)
    var w = df.write.mode("overwrite").format(fmt)
    if (fmt == "csv")
      w = w.option("header", opts.header.toString).option("sep", opts.delimiter)
    opts.compression.foreach(c => w = w.option("compression", c))
    w.save(path)
  }

  /** COPY (query) TO 'path' — same writer over any frame. */
  def queryTo(df: DataFrame, path: String, opts: Options = Options()): Unit =
    tableTo(df, path, opts)

  /** COPY <table> FROM 'path' WITH (format, pattern ...). */
  def tableFrom(spark: SparkSession, path: String, opts: Options = Options(),
      schema: Option[StructType] = None): DataFrame = {
    val fmt = check(opts.format)
    var r = spark.read.format(fmt)
    if (fmt == "csv")
      r = r.option("header", opts.header.toString).option("sep", opts.delimiter)
    if (fmt == "csv" || fmt == "json")
      schema match {
        case Some(sc) => r = r.schema(sc)
        case None     => r = r.option("inferSchema", "true")
      }
    else schema.foreach(sc => r = r.schema(sc))
    opts.pattern.foreach(p => r = r.option("pathGlobFilter", p))
    r.load(path)
  }

  // ---- single-file statement surface ---------------------------------
  // The SQL `COPY ... TO '<file>'` statement writes ONE file at the exact
  // path (operator/src/statement.rs:280) — inherently a single-writer
  // export, so the parallel part is the upstream compute; the final
  // coalesce(1) is the statement's contract, not a scale path. Bulk
  // distributed export stays `tableTo` (a directory of parts).

  private def codecName(c: String): String = c.toLowerCase match {
    case "gzip" | "gz"  => org.apache.commons.compress.compressors.CompressorStreamFactory.GZIP
    case "zstd" | "zst" => org.apache.commons.compress.compressors.CompressorStreamFactory.ZSTANDARD
    case "bzip2" | "bz2" => org.apache.commons.compress.compressors.CompressorStreamFactory.BZIP2
    case "xz"           => org.apache.commons.compress.compressors.CompressorStreamFactory.XZ
    case other => throw new IllegalArgumentException(s"unsupported compression_type: $other")
  }

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `df` as exactly one file at `path` (optionally stream-
    * compressed with commons-compress: gzip/zstd/bzip2/xz). */
  def exportSingleFile(df: DataFrame, path: String, opts: Options): Unit = {
    val spark = df.sparkSession
    val fmt = check(opts.format)
    val tmp = path + ".__graft_copy_tmp"
    var w = df.coalesce(1).write.mode("overwrite").format(fmt)
    if (fmt == "csv")
      w = w.option("header", opts.header.toString).option("sep", opts.delimiter)
    w.save(tmp)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = fsOf(spark, tmpPath)
    val part = fs.listStatus(tmpPath).map(_.getPath)
      .find(p => p.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file written under $tmp"))
    val dest = new org.apache.hadoop.fs.Path(path)
    Option(dest.getParent).foreach(fs.mkdirs(_))
    if (fs.exists(dest)) fs.delete(dest, true)
    opts.compression match {
      case None =>
        if (!fs.rename(part, dest))
          throw new java.io.IOException(s"cannot rename $part to $dest")
      case Some(c) =>
        val in = fs.open(part)
        val out = new org.apache.commons.compress.compressors.CompressorStreamFactory()
          .createCompressorOutputStream(codecName(c), fs.create(dest, true))
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536)
        finally { out.close(); in.close() }
    }
    fs.delete(tmpPath, true)
  }

  /** Resolve a COPY FROM source path to concrete files: a file or a
    * directory listing, with the reference's PATTERN regex filter on file
    * names (copy_table_from.rs). Part/tmp artifacts are skipped. */
  def listSourceFiles(spark: SparkSession, path: String,
      pattern: Option[String]): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) throw new IllegalArgumentException(s"path not found: $path")
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).map(_.getPath)
          .filterNot(_.getName.startsWith("_")).toSeq
      else Seq(p)
    val matched = pattern match {
      case Some(rx) => files.filter(f => f.getName.matches(rx))
      case None     => files
    }
    matched.map(_.toString)
  }

  /** Read COPY FROM files; compressed csv/json (by `compression` option or
    * file extension) are stream-decompressed to local temp files first. */
  def importFiles(spark: SparkSession, paths: Seq[String], opts: Options): DataFrame = {
    val fmt = check(opts.format)
    val CompExt = Map("gz" -> "gzip", "zst" -> "zstd", "bz2" -> "bzip2", "xz" -> "xz")
    def maybeDecompress(path: String): String = {
      val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
      val codec = opts.compression.orElse(CompExt.get(ext))
      codec match {
        case Some(c) if fmt != "parquet" && fmt != "orc" =>
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = fsOf(spark, p)
          val local = java.nio.file.Files.createTempFile("graft_copy_in", "." + fmt)
          val in = new org.apache.commons.compress.compressors.CompressorStreamFactory()
            .createCompressorInputStream(codecName(c), new java.io.BufferedInputStream(fs.open(p)))
          val out = java.nio.file.Files.newOutputStream(local)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536)
          finally { out.close(); in.close() }
          local.toFile.deleteOnExit()
          "file://" + local.toString
        case _ => path
      }
    }
    val resolved = paths.map(maybeDecompress)
    var r = spark.read.format(fmt)
    if (fmt == "csv")
      r = r.option("header", "true").option("inferSchema", "true")
        .option("sep", opts.delimiter)
    r.load(resolved: _*)
  }

  /** COPY DATABASE TO: one subdirectory per registered table. */
  def databaseTo(catalog: Catalog, dir: String, opts: Options = Options()): Unit =
    catalog.tables.foreach(t => tableTo(catalog.read(t), s"$dir/$t", opts))

  /** COPY DATABASE FROM: read every subdirectory back as a table name →
    * frame map (insertion into a target catalog is the caller's call). */
  def databaseFrom(spark: SparkSession, dir: String,
      opts: Options = Options()): Map[String, DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory)
      .map(s => s.getPath.getName -> tableFrom(spark, s.getPath.toString, opts))
      .toMap
  }
}
