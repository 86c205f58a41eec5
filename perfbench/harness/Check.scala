package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}

/** Output checks. Every check runs outside the timed region. */
object Check {

  /** Order-insensitive content fingerprint of a result: its row count
    * and the wrapping sum of a stable 64-bit hash of every row. The
    * rows are collected, so every column is computed and the result's
    * plan gains no extra stage. */
  def fingerprint(df: DataFrame): String = fingerprintRows(df.collect().toSeq)

  def fingerprintRows(rows: Seq[Row]): String =
    s"${rows.length}:${rows.iterator.map(r => mix(hash(r))).sum}"


  /** Hash that is the same in every JVM (no identity hash codes). */
  private def hash(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case r: Row => r.toSeq.foldLeft(17L)((h, x) => h * 31 + hash(x))
    case b: Array[Byte] => java.util.Arrays.hashCode(b).toLong
    case m: scala.collection.Map[_, _] => m.iterator.map { case (k, x) => mix(hash(k) * 31 + hash(x)) }.sum
    case xs: Iterable[_] => xs.foldLeft(19L)((h, x) => h * 31 + hash(x))
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f).toLong
    case x => x.hashCode.toLong
  }

  private def mix(h: Long): Long = {
    var x = h
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Rows in the parquet data files under `dir`, from their footers. */
  def parquetRows(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(parquetRows).sum
    else if (!dir.getName.endsWith(".parquet") || dir.getName.startsWith(".")) 0L
    else {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.toURI), hadoopConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }

  /** Total bytes of the regular files under `dir`. */
  def bytesUnder(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).toSeq.flatten.map(bytesUnder).sum

  /** Data files (not checksums, markers or manifests) under `dir`. */
  def dataFiles(dir: File): Int =
    if (!dir.exists()) 0
    else if (dir.isFile) {
      val n = dir.getName
      if (n.startsWith(".") || n.startsWith("_")) 0 else 1
    } else Option(dir.listFiles()).toSeq.flatten.map(dataFiles).sum

  private val mapper = new ObjectMapper()

  def readJson(f: File): JsonNode = mapper.readTree(f)

  def writeJson(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    val tmp = new File(f.getPath + ".tmp")
    mapper.writerWithDefaultPrettyPrinter().writeValue(tmp, toJava(v))
    if (!tmp.renameTo(f)) sys.error(s"cannot write $f")
  }

  def toJson(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[Any]()
      s.foreach(x => out.add(toJava(x)))
      out
    case p: Product if p.productArity > 0 && !p.isInstanceOf[Option[_]] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      p.productElementNames.zip(p.productIterator).foreach { case (k, x) => out.put(k, toJava(x)) }
      out
    case Some(x) => toJava(x)
    case None => null
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}
