package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, StructType}

/** Create-or-append tabular CSV sink — the reference's
  * `TabularFileLoader` (reference: engine/wprdc_etl/pipeline/
  * loaders.py:605-692): insert-only (`assert method == 'insert'`,
  * loaders.py:671), with a header-compatibility check before appending
  * (set-difference of column sets, loaders.py:12-23).
  *
  * Spark-native shape: a directory of part CSVs plus a `_schema.json`
  * sidecar recording the committed column set; an append whose columns
  * differ fails fast instead of silently corrupting the table. (The
  * reference appends lines to one growing CSV — single-writer,
  * single-host; a directory of parts is the distributed equivalent and
  * reads back with `spark.read.csv(dir)`.)
  */
object TabularSink {

  /** Append `df` to `dir` as headerless CSV parts (the schema lives in
    * the sidecar, not per-file — files stay concatenable like the
    * reference's single CSV). Creates the sink on first write. Appending
    * is the only write it offers: a `CsvDir` job refuses any other
    * method before calling it. */
  def append(df: DataFrame, dir: String): Unit = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val sidecar = new Path(root, "_schema.json")
    if (fs.exists(sidecar)) {
      val in = fs.open(sidecar)
      val existing = try DataType.fromJson(
        scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        .asInstanceOf[StructType]
      finally in.close()
      val have = df.columns.toSet
      val want = existing.fieldNames.toSet
      require(have == want,
        s"header mismatch: missing=${want -- have} extra=${have -- want} " +
          "(reference loaders.py:12-23 key-compat check)")
      // align column order to the committed header before appending
      df.select(existing.fieldNames.map(df.col).toIndexedSeq: _*)
        .write.mode("append").option("header", "false").csv(dir)
    } else {
      // sidecar FIRST: a crash between the two writes must not leave
      // committed-looking parts without a recorded header — a rerun
      // would take this branch again and append the same rows twice.
      // Sidecar-without-parts just reruns down the append branch (same
      // columns pass the compat check); the sink reads back empty until
      // the rerun lands, never duplicated.
      val out = fs.create(sidecar, true)
      try out.write(df.schema.json.getBytes("UTF-8")) finally out.close()
      df.write.mode("append").option("header", "false").csv(dir)
    }
  }

  /** Read the sink back with its committed schema (all-string columns,
    * like the reference's CSV round-trip). */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val sidecar = new Path(new Path(dir), "_schema.json")
    val fs = sidecar.getFileSystem(conf)
    val in = fs.open(sidecar)
    val schema = try DataType.fromJson(
      scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      .asInstanceOf[StructType]
    finally in.close()
    spark.read.schema(schema).option("header", "false").csv(dir)
  }
}
