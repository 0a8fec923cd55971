package graftbench

import java.io.ByteArrayInputStream

import scala.util.hashing.MurmurHash3

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader

/** Order-independent digests of result rows. A row is rendered as
  * `name=value` pairs in column-name order (nulls as `null`, timestamps as
  * epoch microseconds), hashed to 64 bits, and the digest is the row count
  * plus the wrapping sum of the row hashes — so two results agree exactly
  * when they hold the same multiset of rows, whatever their order. */
object RowHash {

  final case class Digest(rows: Long, sum: Long) {
    def +(row: String): Digest = Digest(rows + 1, sum + hash64(row))
  }
  val Empty: Digest = Digest(0L, 0L)

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3C6EF372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1B873593).toLong & 0xFFFFFFFFL)

  def render(cols: Seq[(String, Any)]): String =
    cols.sortBy(_._1).map { case (k, v) => s"$k=${if (v == null) "null" else v}" }
      .mkString("|")

  def of(rows: Iterator[Seq[(String, Any)]]): Digest =
    rows.foldLeft(Empty)((d, r) => d + render(r))

  /** Digest of an Arrow IPC stream. Timestamp vectors yield epoch micros,
    * string vectors their text, numbers their boxed value. */
  def ofArrow(bytes: Array[Byte]): Digest = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
      try {
        var d = Empty
        val root = reader.getVectorSchemaRoot
        while (reader.loadNextBatch()) {
          val vs = (0 until root.getFieldVectors.size).map(root.getVector)
          val names = vs.map(_.getName)
          for (i <- 0 until root.getRowCount)
            d = d + render(names.zip(vs.map { v =>
              val o = v.getObject(i)
              if (o == null) null else o.toString
            }))
        }
        d
      } finally reader.close()
    } finally alloc.close()
  }
}
