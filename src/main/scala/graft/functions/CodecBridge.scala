package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.codec.{LobLocator, OraCharset, OraRowId, OraVector, OraXml, Oson}

/** Static adapters between Spark's runtime types (`ArrayData`,
  * `UTF8String`) and the pure codecs — single call targets for
  * [[KernelCall]] bindings.
  */
object CodecBridge {
  def vectorEncodeFloats(a: ArrayData): Array[Byte] = OraVector.encodeFloats(a.toFloatArray())
  def vectorDecodeFloats(b: Array[Byte]): ArrayData = new GenericArrayData(OraVector.decodeFloats(b))

  def lobInline(data: Array[Byte]): Array[Byte] = LobLocator.encode(LobLocator.Inline(data))
  def lobOutOfRow(id: Long): Array[Byte] = LobLocator.encode(LobLocator.OutOfRow(id))

  def rowIdEncode(dataObj: Long, fileNo: Int, blockNo: Long, rowNo: Int): UTF8String =
    UTF8String.fromString(OraRowId.encode(dataObj, fileNo, blockNo, rowNo))
  /** Component `part` of a ROWID: 0 data object, 1 file, 2 block, 3 row. */
  def rowIdPart(s: UTF8String, part: Int): Long = {
    val r = OraRowId.decode(s.toString)
    part match {
      case 0 => r.dataObj
      case 1 => r.fileNo.toLong
      case 2 => r.blockNo
      case 3 => r.rowNo.toLong
    }
  }

  def charsetEncode(s: UTF8String, cs: UTF8String): Array[Byte] = OraCharset.encode(s.toString, cs.toString)
  def charsetDecode(b: Array[Byte], cs: UTF8String): UTF8String =
    UTF8String.fromString(OraCharset.decode(b, cs.toString))

  def xmlClobDecode(b: Array[Byte]): UTF8String = UTF8String.fromString(OraXml.decodeClob(b))
  def xmlBlobDecode(b: Array[Byte]): UTF8String = UTF8String.fromString(OraXml.decodeBlob(b))

  def osonEncode(s: UTF8String): Array[Byte] = Oson.encodeText(s.toString)
  def osonDecode(b: Array[Byte]): UTF8String = UTF8String.fromString(Oson.decodeText(b))
}
