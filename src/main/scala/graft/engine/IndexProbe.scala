package graft.engine

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession

/** The doc-sorted index probed on the driver, without a Spark job — the
  * chunk-grain form of the reference's Equal ladder on its sorted
  * column (reference: search/constraint.go:343-636): skip by min/max,
  * then read only the surviving pages.
  *
  * Each data file of the index holds one doc_id range, so its footer's
  * doc_id [min, max], its fence, is read once per index version. A
  * lookup opens only the files whose fence admits a key and reads
  * their (doc_id, chunk_id) rows with parquet-mr's filtered reader,
  * which skips row groups by their stats and pages by the column index,
  * and keeps only the rows the predicate holds for. The index rows a
  * lookup hits stream through the driver on one thread; what it keeps
  * is their distinct chunk ids.
  */
private[engine] object IndexProbe {

  /** A data file of the index and its doc_id fence; None when a row
    * group has no doc_id stats, so the file is always read.
    */
  final case class IndexFile(path: Path, fence: Option[(String, String)])

  /** One version of the index: the `chunks/` stamp it was built from, and its data files. */
  final case class Index(builtFrom: Long, files: Seq[IndexFile])

  /** The marker, written after the index files, that holds the stamp; `_`
    * keeps it out of Spark's listing. An index without it reads as absent.
    */
  val BuiltFrom = "_built_from"

  private val versions = new SessionMemo[String, Option[Index]](_ => ())

  /** The index at `dir`, read once per index version: the stamp in its
    * [[BuiltFrom]] marker, then its data files, named as Spark lists them
    * (no `_` or `.` prefix), each with its fence. A file with no row
    * groups holds no row and is left out. None when the directory or
    * its marker is missing, or the marker holds no stamp.
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
          val blocks = try r.getFooter.getBlocks.asScala.toSeq finally r.close()
          def utf8(v: Any) = v.asInstanceOf[Binary].toStringUsingUTF8
          val bounds = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == "doc_id").map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue)
            .map(s => (utf8(s.genericGetMin), utf8(s.genericGetMax))))
          val fence =
            if (bounds.exists(_.isEmpty)) None
            else Some((bounds.flatten.map(_._1).min(Utf8Order), bounds.flatten.map(_._2).max(Utf8Order)))
          if (blocks.isEmpty) None else Some(IndexFile(st.getPath, fence))
        }))
    }

  /** The distinct chunk ids of the rows of `index` that `rows` holds
    * for, reading only the files whose fence `[min, max]` passes
    * `admits`.
    */
  def chunkIds(
      spark: SparkSession,
      index: Index,
      admits: (String, String) => Boolean,
      rows: FilterPredicate
  ): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ids = scala.collection.mutable.HashSet.empty[Long]
    index.files.filter(_.fence.forall(admits.tupled)).foreach { f =>
      val reader = ParquetReader.builder(ChunkIdOfRow, f.path)
        .withConf(conf).withFilter(FilterCompat.get(rows)).build()
      try {
        var id = reader.read()
        while (id != null) { ids += id; id = reader.read() }
      } finally reader.close()
    }
    ids.toSeq
  }

  /** Reads (doc_id, chunk_id) with the file's own column types, and
    * materializes each row the record filter keeps as its chunk id.
    */
  private object ChunkIdOfRow extends ReadSupport[java.lang.Long] {
    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val f = ctx.getFileSchema
      def field(name: String) = f.getType(f.getFieldIndex(name))
      new ReadSupport.ReadContext(new MessageType(f.getName, field("doc_id"), field("chunk_id")))
    }

    override def prepareForRead(
        conf: Configuration,
        meta: java.util.Map[String, String],
        schema: MessageType,
        ctx: ReadSupport.ReadContext
    ): RecordMaterializer[java.lang.Long] = new RecordMaterializer[java.lang.Long] {
      private var id = 0L
      private val row = new GroupConverter {
        private val docId = new PrimitiveConverter { override def addBinary(v: Binary): Unit = () }
        private val chunkId = new PrimitiveConverter { override def addLong(v: Long): Unit = id = v }
        override def getConverter(i: Int): Converter = if (i == 0) docId else chunkId
        override def start(): Unit = ()
        override def end(): Unit = ()
      }
      override def getRootConverter: GroupConverter = row
      override def getCurrentRecord: java.lang.Long = id
    }
  }
}
