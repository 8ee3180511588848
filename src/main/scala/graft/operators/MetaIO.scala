package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Driver-direct I/O for METADATA-SCALE parquet objects (manifest
  * generations, the index's `meta/` self-description, PQ codebooks).
  *
  * Why not `spark.read.parquet(...).collect()`: every such call is a full
  * Spark ACTION — analyzer + optimizer + physical planning, a scheduled
  * job, a task round trip — ~50-150 ms of pure overhead to move a few
  * HUNDRED BYTES that the driver needs in driver memory anyway. The
  * composed lifecycle operators (ingest commit per microbatch, maintenance
  * ticks, census gates) each re-read these objects several times, so the
  * overhead multiplies into seconds per query (r21 VERDICT "next round"
  * #1: ~100 actions/query, scaling ratios 0.11-0.29 — pure fixed cost).
  * At 100 TB the same calls are object-store round trips wrapped in
  * cluster scheduling on the ingest critical path.
  *
  * This reader/writer goes through the SAME Hadoop FileSystem the lake
  * uses (HDFS/object store at scale, local in tests) and the SAME parquet
  * format — only the cluster scheduling is gone. It is strictly for
  * metadata objects: everything here materializes on the driver, which is
  * exactly what the callers' `.collect()` already did (a manifest is one
  * row per FILE — the driver needs the list to plan reads; codebooks are
  * m × nlist tiny rows that become a driver-side literal). Corpus-scale
  * tables never come through here.
  */
private[graft] object MetaIO {

  /** All data files of a parquet "object": the path itself when it is a
    * plain file, else the non-hidden `*.parquet` files under it
    * (recursively — partition-directory scratch trees included). Hidden
    * entries (`_SUCCESS`, `_manifest`, dot-files) are skipped, matching
    * Spark's own listing rule — which EXEMPTS names containing `=`:
    * a partition directory may legitimately start with an underscore
    * (`__bin=3/` in the compactors' scratch trees).
    */
  private def dataFiles(fs: FileSystem, p: Path): Seq[Path] = {
    val st = fs.getFileStatus(p) // missing path -> FileNotFoundException, loud like spark.read
    if (st.isFile) Seq(p)
    else
      fs.listStatus(p)
        .toSeq
        .filterNot { s =>
          val n = s.getPath.getName
          (n.startsWith("_") || n.startsWith(".")) && !n.contains("=")
        }
        .sortBy(_.getPath.getName)
        .flatMap { s =>
          if (s.isDirectory) dataFiles(fs, s.getPath)
          else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath)
          else Nil
        }
  }

  /** Read every row of a metadata parquet object into driver memory as
    * example-API [[Group]]s. The caller extracts fields with the typed
    * getters below — nulls (absent values) fail loudly, which is right
    * for manifest/meta objects whose fields are never null by
    * construction (a null means a corrupt or foreign object).
    */
  def readGroups(conf: Configuration, path: String): Seq[Group] = {
    val p = new Path(path)
    val files = dataFiles(p.getFileSystem(conf), p)
    // An object with no data file is partial or foreign, not "zero rows";
    // the Spark read this replaced failed on it too (no schema to infer).
    if (files.isEmpty) throw new IllegalStateException(s"MetaIO: no *.parquet data file under $path")
    files.flatMap { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(), f).withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
      finally reader.close()
    }
  }

  private def requirePresent(g: Group, field: String): Unit =
    require(
      g.getType.containsField(field) && g.getFieldRepetitionCount(field) > 0,
      s"MetaIO: field '$field' absent or null in metadata row of schema ${g.getType}",
    )

  def str(g: Group, field: String): String = { requirePresent(g, field); g.getString(field, 0) }
  def int32(g: Group, field: String): Int = { requirePresent(g, field); g.getInteger(field, 0) }
  def int64(g: Group, field: String): Long = { requirePresent(g, field); g.getLong(field, 0) }

  /** A Spark-written `array<float>` column (3-level LIST: `optional group
    * f (LIST) { repeated group list { element } }`).
    */
  def floatSeq(g: Group, field: String): Seq[Float] = {
    requirePresent(g, field)
    val list = g.getGroup(field, 0)
    val repeated = list.getType.asGroupType().getFieldName(0) // "list" (parquet-mr) / "bag" (legacy hive)
    val n = list.getFieldRepetitionCount(repeated)
    (0 until n).map { i =>
      val entry = list.getGroup(repeated, i)
      entry.getFloat(entry.getType.asGroupType().getFieldName(0), 0) // "element"
    }
  }

  /** Exact row count from parquet FOOTERS — the metadata a count() job
    * re-derives by scheduling a cluster pass over the same files. Used
    * for the compactors' row-count gates, where input and output are
    * explicit file sets just written/about to be rewritten.
    */
  def rowCount(conf: Configuration, paths: Seq[String]): Long =
    paths.iterator.map { f =>
      val p = new Path(f)
      val fs = p.getFileSystem(conf)
      dataFiles(fs, p).iterator.map { df =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(df, conf))
        try r.getRecordCount
        finally r.close()
      }.sum
    }.sum

  /** Write ONE parquet file of metadata rows (the manifest generation's
    * staging object). `schema` is a parquet message-type string; each row
    * supplies values aligned with the schema's fields (String/Int/Long —
    * metadata types). Snappy, one row group: the same shape Spark's
    * `coalesce(1).write.parquet` produced here before, minus the job.
    */
  def writeRows(conf: Configuration, file: String, schema: String, rows: Seq[Seq[Any]]): Unit = {
    val msg: MessageType = MessageTypeParser.parseMessageType(schema)
    val p = new Path(file)
    val writer = ExampleParquetWriter
      .builder(p)
      .withConf(conf)
      .withType(msg)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { row =>
      val g = new SimpleGroup(msg)
      row.zipWithIndex.foreach { case (v, i) =>
        val name = msg.getFieldName(i)
        v match {
          case s: String => g.append(name, s)
          case n: Int => g.append(name, n)
          case n: Long => g.append(name, n)
          case other =>
            throw new IllegalArgumentException(s"MetaIO.writeRows: unsupported value $other for '$name'")
        }
      }
      writer.write(g)
    }
    finally writer.close()
  }
}
