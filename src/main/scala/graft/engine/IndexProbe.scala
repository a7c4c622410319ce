package graft.engine

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{ColumnIOFactory, InputFile, SeekableInputStream}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The doc-sorted index probed, and its small lookups fetched, on the
  * driver without a Spark job — the chunk-grain form of the reference's
  * Equal ladder on its sorted column (reference:
  * search/constraint.go:343-636): skip by min/max, then read only the
  * surviving pages, all in the querying process.
  *
  * Each data file of the index holds one doc_id range, so its footer's
  * doc_id [min, max], its fence, is read once per index version, and
  * the parsed footer is kept with it. A lookup opens only the files
  * whose fence admits a key, from that footer, and reads their rows
  * with parquet-mr's filtered reader, which skips row groups by their
  * stats and pages by the column index, and keeps only the rows the
  * predicate holds for. The index rows a lookup hits stream through
  * the driver on one thread; what it keeps is their distinct chunk
  * locators: each chunk's file, its row in that file and its encoded
  * size.
  *
  * [[fetch]] then reads a small lookup's chunks the same way: at most
  * [[MaxChunks]] chunk rows, and at most [[MaxBytes]] of encoded
  * payload and of column chunks to read (summed from the chunk files'
  * footers before any payload is read), so a driver lookup touches at
  * most 8 files and 64 MB at any table size. A larger one keeps the
  * Spark fetch.
  */
private[engine] object IndexProbe {

  /** The index's layout: each (doc_id, chunk_id) row, and where that
    * chunk lives — its chunks-table file (the URI Spark's
    * `_metadata.file_path` names), its row in that file and its
    * `encoded_bytes`.
    */
  val Layout: StructType = new StructType()
    .add("doc_id", StringType).add("chunk_id", LongType)
    .add("chunk_file", StringType).add("chunk_row", LongType).add("encoded_bytes", LongType)

  /** A data file of the index, its parsed footer and its doc_id fence;
    * no fence when a row group has no doc_id stats, so the file is
    * always read.
    */
  final case class IndexFile(status: FileStatus, footer: ParquetMetadata, fence: Option[(String, String)])

  /** One version of the index: the `chunks/` stamp it was built from, and its data files. */
  final case class Index(builtFrom: Long, files: Seq[IndexFile])

  /** A candidate chunk and where it lives: row `row` of chunk file `file` (a URI). */
  final case class Candidate(chunkId: Long, file: String, row: Long, encodedBytes: Long)

  /** The marker, written after the index files, that holds the stamp; `_`
    * keeps it out of Spark's listing. An index without it reads as absent.
    */
  val BuiltFrom = "_built_from"

  /** Most chunk rows a lookup reads on the driver. */
  val MaxChunks = 8

  /** Most bytes a lookup reads on the driver, counted twice over: the
    * candidates' encoded payload (what it materializes), and the
    * compressed column chunks of the row groups that hold them (what
    * parquet reads — whole column chunks, whatever the rows).
    */
  val MaxBytes: Long = 64L << 20

  /** The chunk columns a driver fetch reads: the id, the row and token
    * counts that bound the payloads' header counts, and the four payloads.
    */
  private val PayloadColumns =
    Seq("chunk_id", "n_rows", "n_tokens", "doc_ids_enc", "sources_enc", "lengths_enc", "tokens_enc")

  private val versions = new SessionMemo[String, Option[Index]](_ => ())

  /** The index at `dir`, read once per index version: the stamp in its
    * [[BuiltFrom]] marker, then its data files, named as Spark lists them
    * (no `_` or `.` prefix), each with its footer and fence. A file with
    * no row groups holds no row and is left out. None when the directory
    * or its marker is missing, the marker holds no stamp, or a file lacks
    * a [[Layout]] column (an index built before the locator columns).
    */
  def at(spark: SparkSession, dir: String): Option[Index] =
    versions(spark, dir, dir) {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(dir)
      val fs = root.getFileSystem(conf)
      val marker = new Path(root, BuiltFrom)
      val builtFrom =
        if (fs.exists(marker)) Pipeline.readSmallText(fs, marker, 32).toLongOption else None
      builtFrom.map(Index(_, fs.listStatus(root).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .flatMap { st =>
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          val footer = try r.getFooter finally r.close()
          val blocks = footer.getBlocks.asScala.toSeq
          def utf8(v: Any) = v.asInstanceOf[Binary].toStringUsingUTF8
          val bounds = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == "doc_id").map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue)
            .map(s => (utf8(s.genericGetMin), utf8(s.genericGetMax))))
          val fence =
            if (bounds.exists(_.isEmpty)) None
            else Some((bounds.flatten.map(_._1).min(Utf8Order), bounds.flatten.map(_._2).max(Utf8Order)))
          if (blocks.isEmpty) None else Some(IndexFile(st, footer, fence))
        }))
        .filter(_.files.forall(f => Layout.fieldNames.forall(f.footer.getFileMetaData.getSchema.containsField)))
    }

  /** The distinct chunk locators of the rows of `index` that `rows` holds
    * for, reading only the files whose fence `[min, max]` passes
    * `admits`, each opened once from its memoized footer.
    */
  def candidates(
      spark: SparkSession,
      index: Index,
      admits: (String, String) => Boolean,
      rows: FilterPredicate
  ): Seq[Candidate] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val options = HadoopReadOptions.builder(conf).withRecordFilter(FilterCompat.get(rows)).build()
    val found = scala.collection.mutable.LinkedHashSet.empty[Candidate]
    index.files.filter(_.fence.forall(admits.tupled)).foreach { f =>
      val in = HadoopInputFile.fromStatus(f.status, conf)
      val stream = in.newStream()
      try read(in, stream, f.footer, f.footer.getBlocks.asScala.toSeq, Layout.fieldNames.toSeq, options) { v =>
        found += Candidate(v(1).asInstanceOf[Long], v(2).asInstanceOf[Binary].toStringUsingUTF8,
          v(3).asInstanceOf[Long], v(4).asInstanceOf[Long])
      } finally stream.close()
    }
    found.toSeq
  }

  /** The rows of the `chunks` whose doc id `matches` holds for, read and
    * slice-decoded ([[Decoder.decodeDocsTokensWhere]]) on the driver;
    * None, before any payload is read, when that would pass a cap
    * ([[MaxChunks]], [[MaxBytes]]).
    *
    * Each chunk file is opened once: its footer names the row groups
    * that hold the candidates' rows, and only those are read, filtered
    * to the candidates' chunk ids. A locator that names no row of its
    * file, or a row group without its chunk, throws: a fresh index
    * never holds one.
    */
  def fetch(spark: SparkSession, chunks: Seq[Candidate], matches: String => Boolean): Option[Seq[TokenRow]] =
    if (chunks.length > MaxChunks || chunks.map(_.encodedBytes).sum > MaxBytes) None
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val streams = scala.collection.mutable.ArrayBuffer.empty[SeekableInputStream]
      try {
        val plans = chunks.groupBy(_.file).toSeq.map { case (uri, cs) =>
          val in = HadoopInputFile.fromPath(new Path(new java.net.URI(uri)), conf)
          val stream = in.newStream()
          streams += stream
          val footer = ParquetFileReader.readFooter(in, HadoopReadOptions.builder(conf).build(), stream)
          (in, stream, cs, footer, rowGroupsHolding(footer, cs.map(_.row), in.toString))
        }
        val readBytes = plans.map { case (_, _, _, _, blocks) =>
          blocks.map(_.getColumns.asScala.filter(c => PayloadColumns.contains(c.getPath.toDotString))
            .map(_.getTotalSize).sum).sum
        }.sum
        if (readBytes > MaxBytes) None
        else Some(plans.flatMap { case (in, stream, cs, footer, blocks) =>
          val ids = cs.map(_.chunkId).toSet
          val idIn = FilterApi.in(FilterApi.longColumn("chunk_id"), ids.map(Long.box).asJava)
          // the stored row index already named the row groups
          val options = HadoopReadOptions.builder(conf).withRecordFilter(FilterCompat.get(idIn))
            .useDictionaryFilter(false).useBloomFilter(false).build()
          val seen = scala.collection.mutable.HashSet.empty[Long]
          val rows = scala.collection.mutable.ArrayBuffer.empty[TokenRow]
          read(in, stream, footer, blocks, PayloadColumns, options) { v =>
            def bytes(i: Int) = v(i).asInstanceOf[Binary].getBytes
            val id = v(0).asInstanceOf[Long]
            seen += id
            rows ++= Decoder.decodeDocsTokensWhere(Payload.copy(chunk_id = id,
              n_rows = v(1).asInstanceOf[Int], n_tokens = v(2).asInstanceOf[Long], doc_ids_enc = bytes(3),
              sources_enc = bytes(4), lengths_enc = bytes(5), tokens_enc = bytes(6)), matches)
          }
          if (seen != ids)
            throw new IllegalStateException(s"doc index locators name chunks ${(ids -- seen).mkString(", ")} " +
              s"in row groups of $in that do not hold them")
          rows
        })
      } finally streams.foreach(_.close())
    }

  /** The row groups of `footer` that hold the file rows `rows`. */
  private def rowGroupsHolding(footer: ParquetMetadata, rows: Seq[Long], file: String): Seq[BlockMetaData] = {
    val blocks = footer.getBlocks.asScala.toSeq
    val starts = blocks.scanLeft(0L)(_ + _.getRowCount)
    rows.foreach(r => if (r < 0 || r >= starts.last)
      throw new IllegalStateException(s"doc index locator names row $r of $file, which holds ${starts.last} rows"))
    blocks.indices.filter(i => rows.exists(r => starts(i) <= r && r < starts(i + 1))).map(blocks)
  }

  /** A chunk with only the fields [[Decoder.decodeDocsTokensWhere]] reads left to fill. */
  private val Payload = EncodedChunk(0L, null, null, 0, 0L, null, null, null, 0, 0, 0,
    null, null, null, null, null, null, null, null, 0L, 0L, 0L)

  /** Each row of the row groups `blocks` of `file` that the record filter
    * of `options` keeps, passed to `each` as its values of `columns` (a
    * Long, an Int or a Binary valid until `each` returns), through one
    * reader opened on `stream` from the parsed `footer`.
    */
  private def read(
      file: InputFile,
      stream: SeekableInputStream,
      footer: ParquetMetadata,
      blocks: Seq[BlockMetaData],
      columns: Seq[String],
      options: ParquetReadOptions
  )(each: Array[Any] => Unit): Unit = {
    val schema = footer.getFileMetaData.getSchema
    val projection = new MessageType(schema.getName, columns.map(c => schema.getType(schema.getFieldIndex(c))): _*)
    val reader = ParquetFileReader.open(file, new ParquetMetadata(footer.getFileMetaData, blocks.asJava),
      options, stream)
    try {
      reader.setRequestedSchema(projection)
      val io = new ColumnIOFactory().getColumnIO(projection, schema)
      val values = new Values(columns.length)
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, values, options.getRecordFilter)
        var i = 0L
        while (i < pages.getRowCount) {
          val v = records.read()
          if (v != null && !records.shouldSkipCurrentRecord) each(v)
          i += 1
        }
        pages = reader.readNextFilteredRowGroup()
      }
    } finally reader.close()
  }

  /** Materializes a row of a flat projection as its column values, in
    * one array reused from row to row.
    */
  private final class Values(n: Int) extends RecordMaterializer[Array[Any]] {
    private val row = new Array[Any](n)
    private val root = new GroupConverter {
      private val columns = Array.tabulate[Converter](n)(i => new PrimitiveConverter {
        override def addInt(v: Int): Unit = row(i) = v
        override def addLong(v: Long): Unit = row(i) = v
        override def addBinary(v: Binary): Unit = row(i) = v
      })
      override def getConverter(i: Int): Converter = columns(i)
      override def start(): Unit = java.util.Arrays.fill(row.asInstanceOf[Array[AnyRef]], null)
      override def end(): Unit = ()
    }
    override def getRootConverter: GroupConverter = root
    override def getCurrentRecord: Array[Any] = row
  }
}
