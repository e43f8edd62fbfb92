package graft.util

import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Driver-side reader for SMALL parquet param tables (centroids,
  * codebooks, quantizers, SQ8 params, rotations — K-to-d²-row index
  * lookups). `spark.read.parquet(...).collect()` costs a full Spark
  * job (scan plan + schedule + collect) per read; a probe query's
  * construction performs several such reads, so at fixture scale the
  * probes were paying 4-6 scheduler round-trips (~40 ms + planning gap
  * each) before the first real job. This reads the same files through
  * parquet-hadoop directly — zero Spark jobs, identical values
  * (parquet doubles roundtrip IEEE-exactly either way). Every caller
  * sorts the rows it reads (the tables are keyed), so file/row order
  * never matters — the same argument the footer-count reader
  * ([[graft.ext.Ann]]'s parquet census) already relies on.
  *
  * Supports exactly the param tables' shapes: primitive int/long/
  * float/double/boolean/binary-UTF8 columns and array<double>/
  * array<long> columns in Spark's standard 3-level list encoding.
  */
object SmallParquet {

  /** All rows of the table at `path`, projected to `columns` (values
    * in that order): primitives as their JVM boxes, arrays as
    * Seq[Double]/Seq[Long], nulls as null.
    */
  def rows(spark: org.apache.spark.sql.SparkSession, path: String,
      columns: Seq[String]): Seq[IndexedSeq[Any]] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) files += st.getPath
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Any]]
    files.sortBy(_.toString).foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), f)
        .withConf(conf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          out += (
            if (columns.isEmpty) // all columns, file-schema order
              (0 until g.getType.getFieldCount).map(value(g, _))
            else columns.map(c => value(g, g.getType.getFieldIndex(c))).toIndexedSeq)
          g = reader.read()
        }
      } finally reader.close()
    }
    out.toSeq
  }

  private def primitive(g: Group, idx: Int, rep: Int): Any =
    g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
      case INT32 => g.getInteger(idx, rep)
      case INT64 => g.getLong(idx, rep)
      case FLOAT => g.getFloat(idx, rep)
      case DOUBLE => g.getDouble(idx, rep)
      case BOOLEAN => g.getBoolean(idx, rep)
      case BINARY | FIXED_LEN_BYTE_ARRAY => g.getString(idx, rep)
      case other => sys.error(s"SmallParquet: unsupported primitive $other")
    }

  private def value(g: Group, idx: Int): Any = {
    if (g.getFieldRepetitionCount(idx) == 0) return null
    val ft = g.getType.getType(idx)
    if (ft.isPrimitive) primitive(g, idx, 0)
    else {
      // Spark's 3-level list: optional group col (LIST) {
      //   repeated group list { optional <elem> element } }
      val lst = g.getGroup(idx, 0)
      val n = lst.getFieldRepetitionCount(0)
      val elems = (0 until n).map { k =>
        val e = lst.getGroup(0, k)
        if (e.getFieldRepetitionCount(0) == 0) null else primitive(e, 0, 0)
      }
      if (elems.forall(_.isInstanceOf[java.lang.Double]))
        elems.map(_.asInstanceOf[java.lang.Double].doubleValue)
      else if (elems.forall(_.isInstanceOf[java.lang.Long]))
        elems.map(_.asInstanceOf[java.lang.Long].longValue)
      else elems
    }
  }

  /** Typed accessors for the callers' common shapes. */
  def int(v: Any): Int = v.asInstanceOf[Number].intValue
  def dbl(v: Any): Double = v.asInstanceOf[Number].doubleValue
  def darr(v: Any): Seq[Double] = v.asInstanceOf[Seq[Double]]
}
