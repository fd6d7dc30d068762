package graft.sources

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, Float4Vector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter, ArrowReader, ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel

/** Arrow IPC *file* format interchange for the document+embedding export
  * schema — the wire format ML data loaders memory-map (PyTorch / HF
  * datasets ship Arrow). Unlike the hand-rolled codecs ([[Avro]],
  * [[TfExample]]), this one rides the arrow-vector jars Spark itself
  * ships (`/opt/spark/jars/arrow-*-18.3.0.jar`): the POINT of an
  * interchange gate is that a THIRD party's reader accepts the bytes, so
  * the reference implementation IS the right reader — hand-rolling both
  * sides would only prove self-consistency.
  *
  * Schema (fixed, the `q_arrow_roundtrip` export):
  * `doc_id: Int64 not-null | source: Utf8 | text: Utf8 |
  *  emb: List<Float32>` — nullable text/source/emb exercise Arrow's
  * validity bitmaps, the list column its offsets buffer.
  *
  * Strictness contract, house style: [[readFile]] verifies the schema
  * field-by-field before touching data and re-validates each loaded
  * batch, so a truncated file, a flipped footer length, or a
  * wrong-schema file all reject. Arrow IPC carries no data checksum
  * (like protobuf) — byte corruption inside a batch body is detected one
  * layer up by the gate's content digests, not here.
  */
object ArrowIpc {

  /** One exported row; `source`/`text` may be null, `emb` may be null
    * (absent vector) or empty.
    */
  final case class DocRow(docId: Long, source: String, text: String,
                          emb: Array[Float]) {
    override def equals(o: Any): Boolean = o match {
      case DocRow(d, s, t, e) => d == docId && s == source && t == text &&
        ((e == null && emb == null) ||
         (e != null && emb != null && java.util.Arrays.equals(e, emb)))
      case _ => false
    }
    override def hashCode: Int =
      (docId, source, text, if (emb == null) 0 else java.util.Arrays.hashCode(emb)).hashCode()
  }

  /** Rows per IPC record batch. Small enough that every multi-row shard
    * exercises the multi-batch path; a production value (64k) only
    * changes this constant.
    */
  val BatchRows: Int = 256

  private def schema: Schema = {
    val embChild = new Field("item",
      FieldType.nullable(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)), null)
    new Schema(java.util.Arrays.asList(
      new Field("doc_id", FieldType.notNullable(new ArrowType.Int(64, true)), null),
      new Field("source", FieldType.nullable(ArrowType.Utf8.INSTANCE), null),
      new Field("text", FieldType.nullable(ArrowType.Utf8.INSTANCE), null),
      new Field("emb", FieldType.nullable(ArrowType.List.INSTANCE),
        java.util.Arrays.asList(embChild))))
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Stream `rows` into `out` as one Arrow IPC file in [[BatchRows]]
    * batches, closing `out` when done. Returns the row count. Temp-file
    * and atomic-rename placement belong to the caller: the export gates
    * write through [[graft.queries.StorageQueries.ShardExport]].
    */
  def writeFile(out: java.io.OutputStream, rows: Iterator[DocRow]): Long =
    writeWith(out, rows, new ArrowFileWriter(_, null, _))

  /** Same export through the Arrow IPC *stream* format
    * ([[ArrowStreamWriter]]): schema message, record batches, EOS marker —
    * no footer, no seekability. This is the pipe/network shape
    * (`RecordBatchStreamReader` on the Python side) next to
    * [[writeFile]]'s memory-map shape; both share the batch-population
    * loop, so the two formats carry identical content by construction.
    */
  def writeStream(out: java.io.OutputStream, rows: Iterator[DocRow]): Long =
    writeWith(out, rows, new ArrowStreamWriter(_, null, _))

  private def writeWith(out: java.io.OutputStream, rows: Iterator[DocRow],
      mk: (VectorSchemaRoot, java.nio.channels.WritableByteChannel) =>
        org.apache.arrow.vector.ipc.ArrowWriter): Long = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val root = VectorSchemaRoot.create(schema, alloc)
      try {
        val ch = java.nio.channels.Channels.newChannel(out)
        try {
          val writer = mk(root, ch)
          try {
            writer.start()
            var total = 0L
            val docIdV = root.getVector("doc_id").asInstanceOf[BigIntVector]
            val sourceV = root.getVector("source").asInstanceOf[VarCharVector]
            val textV = root.getVector("text").asInstanceOf[VarCharVector]
            val embV = root.getVector("emb").asInstanceOf[ListVector]
            while (rows.hasNext) {
              root.allocateNew()
              val w = embV.getWriter
              var i = 0
              while (i < BatchRows && rows.hasNext) {
                val r = rows.next()
                docIdV.setSafe(i, r.docId)
                if (r.source == null) sourceV.setNull(i) else sourceV.setSafe(i, utf8(r.source))
                if (r.text == null) textV.setNull(i) else textV.setSafe(i, utf8(r.text))
                if (r.emb == null) embV.setNull(i)
                else {
                  w.setPosition(i)
                  w.startList()
                  r.emb.foreach(v => w.float4().writeFloat4(v))
                  w.endList()
                }
                i += 1
              }
              root.setRowCount(i)
              writer.writeBatch()
              total += i
            }
            writer.end()
            total
          } finally writer.close()
        } finally ch.close()
      } finally root.close()
    } finally alloc.close()
  }

  /** Strictly read one Arrow IPC file from bytes via the reference
    * reader: footer/magic validated by [[ArrowFileReader]], the schema
    * required equal to the export schema, every batch loaded and
    * materialized. Truncations and flipped footer lengths reject here;
    * a wrong-schema file rejects before any data is read.
    */
  def readFile(bytes: Array[Byte]): Vector[DocRow] = {
    // the reference reader validates only the TAIL magic + footer; a
    // file this codec wrote also leads with "ARROW1\0\0", and the strict
    // leg requires it (a stream-format or head-damaged file rejects
    // here, not deep in batch decode)
    val headMagic = "ARROW1".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      Array[Byte](0, 0)
    require(bytes.length >= headMagic.length &&
      java.util.Arrays.equals(java.util.Arrays.copyOf(bytes, headMagic.length), headMagic),
      "not an Arrow IPC file: missing leading ARROW1 magic")
    readWith(new ArrowFileReader(
      new ByteArrayReadableSeekableByteChannel(bytes), _))
  }

  /** Strictly read one Arrow IPC *stream* from bytes via the reference
    * [[ArrowStreamReader]]. A FILE-format payload rejects here (streams
    * lead with an encapsulated schema message, not the ARROW1 magic), and
    * vice versa in [[readFile]] — the two formats are not interchangeable
    * and the readers must not blur them.
    */
  def readStream(bytes: Array[Byte]): Vector[DocRow] = {
    val magic = "ARROW1".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    require(bytes.length < magic.length ||
      !java.util.Arrays.equals(java.util.Arrays.copyOf(bytes, magic.length), magic),
      "file-format payload handed to the stream reader")
    readWith(new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), _))
  }

  private def readWith(mk: RootAllocator => ArrowReader): Vector[DocRow] = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val reader = mk(alloc)
      try {
        val root = reader.getVectorSchemaRoot
        require(root.getSchema == schema,
          s"Arrow schema ${root.getSchema} != expected $schema")
        val out = Vector.newBuilder[DocRow]
        while (reader.loadNextBatch()) {
          val n = root.getRowCount
          val docIdV = root.getVector("doc_id").asInstanceOf[BigIntVector]
          val sourceV = root.getVector("source").asInstanceOf[VarCharVector]
          val textV = root.getVector("text").asInstanceOf[VarCharVector]
          val embV = root.getVector("emb").asInstanceOf[ListVector]
          val dataV = embV.getDataVector.asInstanceOf[Float4Vector]
          var i = 0
          while (i < n) {
            require(!docIdV.isNull(i), s"null doc_id at row $i — schema declares not-null")
            val src = if (sourceV.isNull(i)) null
              else new String(sourceV.get(i), java.nio.charset.StandardCharsets.UTF_8)
            val txt = if (textV.isNull(i)) null
              else new String(textV.get(i), java.nio.charset.StandardCharsets.UTF_8)
            val emb: Array[Float] =
              if (embV.isNull(i)) null
              else {
                val start = embV.getElementStartIndex(i)
                val end = embV.getElementEndIndex(i)
                val a = new Array[Float](end - start)
                var j = start
                while (j < end) {
                  require(!dataV.isNull(j), s"null embedding element at row $i")
                  a(j - start) = dataV.get(j)
                  j += 1
                }
                a
              }
            out += DocRow(docIdV.get(i), src, txt, emb)
            i += 1
          }
        }
        out.result()
      } finally reader.close()
    } finally alloc.close()
  }
}
