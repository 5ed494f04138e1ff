package graft.etd

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources and sinks (SURVEY §2.1 S1-S8).
  *
  * Reference: per-household combine at
  * /root/reference/etdtransform/aggregate.py:84-121, KNMI CSV ingest at
  * /root/reference/etdtransform/knmi.py:49-76, index/Meenemen filter at
  * aggregate.py:95-99.
  */
object Sources {

  /** S3 — multi-file combine with lineage columns
    * (aggregate.py:84-121). The reference loops per household file,
    * stamping ProjectIdBSV/HuisIdBSV literals and concatenating — a
    * driver-RAM wall (">25GB" for ~300 households, README.md:167). Here:
    * ONE glob scan of `household_*_table.parquet`, key extraction from the
    * file path via input_file_name() (no driver loop, no union of
    * thousands of plans), then a broadcast join to the index for the
    * project id and the Meenemen include-filter (left_semi, J12/P6).
    */
  def combineHouseholds(spark: SparkSession, mappedDir: String,
                        index: DataFrame): DataFrame = {
    val raw = spark.read.parquet(s"$mappedDir/household_*_table.parquet")
      .withColumn(Model.HouseId,
        regexp_extract(input_file_name(), "household_(\\d+)_table\\.parquet", 1)
          .cast("long"))
    val keep = index.filter(col("Meenemen"))
      .select(col(Model.HouseId), col(Model.ProjectId))
    raw.join(broadcast(keep), Seq(Model.HouseId), "inner")
  }

  /** The Meenemen update hook — parity with the `update_meenemen()` call
    * the reference makes right before filtering the index
    * (aggregate.py:95; the function itself lives in the external etdmap
    * package): refresh the index's include-flag from a metadata table,
    * keeping the existing flag for households the metadata does not
    * mention. Feed the result to [[combineHouseholds]] — a flipped flag
    * excludes the household from the combined frame. The metadata side is
    * per-household (small) -> broadcast.
    */
  def updateMeenemen(index: DataFrame, metadata: DataFrame): DataFrame = {
    val keys = Seq(Model.HouseId, Model.ProjectId)
    val flagged = metadata.select(
      (keys.map(col) :+ col("Meenemen").as("__meenemen_new")): _*)
    index.join(broadcast(flagged), keys, "left")
      .withColumn("Meenemen", coalesce(col("__meenemen_new"), col("Meenemen")))
      .drop("__meenemen_new")
  }

  /** S4 — KNMI CSV with '#'-comment preamble (knmi.py:49-76): the *last*
    * commented line is the header; column names are stripped and
    * "# STN" -> STN. The header discovery is a tiny driver-side read of
    * the first KB of one file (the preamble is bounded); the data load is
    * a distributed CSV scan with `comment='#'` so Spark skips every
    * commented line — including the header line itself — and the schema
    * comes from the parsed header.
    */
  def readKnmiCsv(spark: SparkSession, path: String): DataFrame = {
    // Header discovery is a DRIVER-SIDE bounded read of the file's
    // LEADING comment block — a contract, not a convention: the previous
    // monotonically_increasing_id ordering was only guaranteed for
    // single-split files, and a stray '#' line mid-file would have
    // (wrongly) become the header. Streaming + takeWhile reads only the
    // preamble bytes; a pathological all-comment file is cut off at
    // maxPreamble instead of OOMing the driver.
    val maxPreamble = 10000
    // Hadoop FileSystem, not java.nio: the data scan below accepts any
    // Hadoop-visible path (hdfs://, s3a://, globs), so header discovery
    // must too — java.nio silently restricted the whole function to
    // driver-local POSIX paths. Globs and directories resolve to their
    // lexicographically first data file (ignoring _*/.*), mirroring how
    // the distributed scan orders splits.
    val hpath = new org.apache.hadoop.fs.Path(path)
    val fs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(hpath)).map(_.toSeq).getOrElse(Seq.empty)
    require(matched.nonEmpty, s"$path matches no files")
    // directories recurse (listFiles(recursive=true)) so a nested /
    // partitioned layout the distributed scan below reads fine doesn't
    // fail header discovery with 'contains no KNMI data file' (ADVICE r8)
    // hidden/meta components (_SUCCESS, .crc, _temporary/...) are skipped
    // only below the matched roots — an explicitly-given path is never
    // second-guessed, matching what the distributed scan skips
    def visibleUnder(root: org.apache.hadoop.fs.Path,
                     q: org.apache.hadoop.fs.Path): Boolean =
      q == null || q == root ||
        (!q.getName.startsWith("_") && !q.getName.startsWith(".") &&
          visibleUnder(root, q.getParent))
    val file = matched
      .flatMap { f =>
        if (f.isDirectory) {
          val it = fs.listFiles(f.getPath, true)
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.hadoop.fs.FileStatus]
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile && visibleUnder(f.getPath, st.getPath)) buf += st
          }
          buf.toSeq
        } else
          // glob-expanded files keep the original name-only check
          Seq(f).filter { g =>
            val n = g.getPath.getName
            g.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
      }
      .map(_.getPath).sortBy(_.toString).headOption
      .getOrElse(throw new IllegalArgumentException(
        s"$path contains no KNMI data file"))
    // Lenient UTF-8: malformed bytes (a stray Latin-1 character in a
    // comment line) decode to U+FFFD instead of throwing, while a header
    // line that IS valid UTF-8 keeps its non-ASCII tokens intact —
    // ISO-8859-1 would mojibake those, strict UTF-8 threw on the former.
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(file), dec))
    val preamble =
      try Iterator.continually(reader.readLine())
        .takeWhile(l => l != null && l.startsWith("#"))
        .take(maxPreamble + 1).toVector
      finally reader.close()
    require(preamble.length <= maxPreamble,
      s"$path has >$maxPreamble leading '#' lines — not a KNMI preamble")
    val headerLine = preamble.lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"No '#' header preamble found in $path"))
    // the reference's rename(columns={"# STN": "STN"}) parity happens
    // HERE: stripPrefix("#") + trim normalizes the first header token
    val names = headerLine.stripPrefix("#").split(",").map(_.trim)
    val df = spark.read
      .option("comment", "#")
      .option("inferSchema", "true")
      .csv(path)
    df.toDF(names.toIndexedSeq: _*)
  }

  /** S5 — Excel weather-station mapping (knmi.py:19-27). Spark has no
    * built-in xlsx reader and this environment vendors no POI; the
    * supported path is the CSV export of the `ProjectWeatherStation` sheet
    * with the same columns (Weerstation upper-cased, STN = Nummer).
    */
  def readStationMappingCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      .withColumn("Weerstation", upper(col("Weerstation")))
      .withColumn("STN", col("Nummer"))

  /** S7 — staged parquet sink (aggregate.py:118-121 etc.): one directory
    * per stage, `{name}_{interval}` naming, partition-parallel writes (the
    * reference writes single files; at 100 TB the sink partitions by
    * ProjectIdBSV so downstream project-grain reads prune).
    */
  /** The reference's safe-name rule for stage files
    * (aggregate.py:322,480: `re.sub(r"\W+", "_", name.lower())`) — a
    * stage named after a column like `Zon-opwekTotaal` must not produce a
    * path with shell-hostile characters. `(?U)` makes Java's `\W`
    * Unicode-aware like Python's (VERDICT r17 #3: the ASCII default
    * would map a name with `é` to a different file than the reference
    * writes — same rule as `EtdOptions.safeName`).
    */
  def safeName(name: String): String =
    name.toLowerCase(java.util.Locale.ROOT).replaceAll("(?U)\\W+", "_")

  def writeStage(df: DataFrame, dir: String, name: String,
                 partitionByProject: Boolean = false): Unit = {
    val w = df.write.mode("overwrite")
    val path = s"$dir/${safeName(name)}.parquet"
    if (partitionByProject) w.partitionBy(Model.ProjectId).parquet(path)
    else w.parquet(path)
  }

  /** JSONL corpus ingest — the arrival format of most LLM training
    * corpora (one JSON document per line, thousands of files). Contract
    * for 100 TB reads:
    *   - `schema` is REQUIRED: letting Spark infer would burn one full
    *     scan of the corpus before the first real job, and a drifted
    *     field would silently widen types mid-corpus. Unexpected fields
    *     are dropped by the schema projection (columnar-pruned at the
    *     parser level); missing fields surface as nulls.
    *   - PERMISSIVE parsing with malformed lines CAPTURED, not dropped:
    *     the raw line lands in `_corrupt_record` so a quarantine split
    *     ([[jsonlQuarantine]]) can route it to a dead-letter sink — at
    *     corpus scale "0.1% bad lines" is millions of documents someone
    *     must be able to audit.
    *   - per-file lineage (`source_file`) from `input_file_name()` —
    *     the provenance column the curation chain carries through
    *     (which dump shard did this document come from).
    */
  def readJsonl(spark: SparkSession, pathGlob: String,
                schema: org.apache.spark.sql.types.StructType,
                lineage: Boolean = true): DataFrame = {
    val withCorrupt = org.apache.spark.sql.types.StructType(
      schema.fields.toSeq :+ org.apache.spark.sql.types.StructField(
        "_corrupt_record", org.apache.spark.sql.types.StringType, nullable = true))
    val raw = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(pathGlob)
    if (lineage) raw.withColumn("source_file", input_file_name()) else raw
  }

  /** Split a [[readJsonl]] frame into (clean, quarantine): clean rows
    * drop the corrupt-record column; quarantine rows carry the raw
    * line + lineage for the dead-letter sink. Callers persist or
    * re-read the parsed frame before splitting it twice (the two
    * filters otherwise parse the files twice — fine, both are one
    * map-only scan).
    */
  def jsonlQuarantine(parsed: DataFrame): (DataFrame, DataFrame) = {
    val clean = parsed.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = parsed.filter(col("_corrupt_record").isNotNull)
      .select((Seq(col("_corrupt_record").as("raw_line")) ++
        (if (parsed.columns.contains("source_file"))
          Seq(col("source_file")) else Nil)): _*)
    (clean, bad)
  }

  /** Legacy-schema normalization: HuisCode -> HuisIdBSV when the old name
    * appears (load_data.py:52-54, 97-99).
    */
  def normalizeLegacyColumns(df: DataFrame): DataFrame =
    if (df.columns.contains("HuisCode") && !df.columns.contains(Model.HouseId))
      df.withColumnRenamed("HuisCode", Model.HouseId)
    else df

  /** Bucketed stage sink: hash-bucket (and sort) the table by key on
    * WRITE so repeated joins/aggregations on that key run WITHOUT a
    * shuffle — Spark's durable co-location primitive. At 100 TB the
    * readings table is joined on (house) by every pipeline run; paying
    * one bucketed write turns every downstream run's largest exchange
    * into a metadata no-op (BucketingSpec asserts the joined plan is
    * Exchange-free). Buckets land as an external table at
    * `path` registered under `name`; read back with `spark.table`.
    */
  def writeBucketed(df: DataFrame, name: String, path: String,
                    buckets: Int,
                    bucketCols: Seq[String] = Seq(Model.HouseId),
                    sortCols: Seq[String] = Seq(Model.HouseId)): Unit = {
    val spark = df.sparkSession
    // backtick-quoted: a hyphenated stage name must not be a parse error;
    // the DROP exists because saveAsTable refuses to overwrite an
    // EXTERNAL table whose path changed — losing the registration on a
    // failed write is acceptable (the parquet data at the old path
    // survives; re-registering is one CREATE TABLE)
    spark.sql(s"DROP TABLE IF EXISTS `${name.replace("`", "``")}`")
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(name)
  }
}
