package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ArrowIpc
import graft.sources.ArrowIpc.DocRow

/** The Arrow IPC interchange leg: round trips through the reference
  * arrow-vector reader/writer (nulls, empty vectors, multi-batch files),
  * and the strict-read contract — truncation anywhere, a flipped footer
  * length, damaged magic, and a wrong-schema file all reject. Arrow IPC
  * carries no data checksum, so byte-level corruption inside a batch
  * body is the gate's digest layer's job, not the reader's; what the
  * reader CAN detect, it must.
  */
class ArrowIpcSpec extends AnyFunSuite {

  private def tmpFile(): java.nio.file.Path =
    java.nio.file.Files.createTempFile("arrow_spec_", ".arrow")

  private def writeBytes(rows: Seq[DocRow]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = ArrowIpc.writeFile(out, rows.iterator)
    assert(n == rows.length)
    out.toByteArray
  }

  private val rnd = new scala.util.Random(0xa2203)
  private def randRows(n: Int): Seq[DocRow] = (0 until n).map { i =>
    DocRow(
      i.toLong,
      if (i % 7 == 3) null else s"src${i % 5}",
      if (i % 11 == 5) null else rnd.alphanumeric.take(rnd.nextInt(40)).mkString,
      i % 13 match {
        case 4 => null
        case 9 => Array.empty[Float]
        case _ => Array.fill(1 + rnd.nextInt(8))(
          java.lang.Float.intBitsToFloat(rnd.nextInt())).map(f => if (f.isNaN) 0f else f)
      })
  }

  test("round-trip: nulls, empty vectors, exact batch boundary, multi-batch") {
    for (n <- Seq(1, ArrowIpc.BatchRows, ArrowIpc.BatchRows + 1, 3 * ArrowIpc.BatchRows + 17)) {
      val rows = randRows(n)
      val got = ArrowIpc.readFile(writeBytes(rows))
      assert(got.length == n, s"n=$n")
      assert(got == rows.toVector, s"n=$n content drift")
    }
  }

  test("an empty file of zero rows round-trips as an empty table") {
    assert(ArrowIpc.readFile(writeBytes(Seq.empty)) == Vector.empty)
  }

  test("truncation anywhere rejects — the footer lives at the end") {
    val bytes = writeBytes(randRows(40))
    // every suffix cut kills the trailing magic or the footer framing
    val cuts = Seq(1, 2, 5, 6, 7, 8, 16, bytes.length / 3, bytes.length / 2,
                   bytes.length - 9, bytes.length - 1)
    cuts.foreach { k =>
      val cut = bytes.take(bytes.length - k)
      val ex = intercept[Exception] { ArrowIpc.readFile(cut); () }
      assert(ex != null, s"cut of $k bytes was accepted")
    }
  }

  test("a flipped footer length rejects") {
    val bytes = writeBytes(randRows(40))
    // layout ends: <footer> <footerLength int32 LE> "ARROW1"
    val lenPos = bytes.length - 10
    for (delta <- Seq(1, 0x40, -1)) {
      val bad = bytes.clone()
      bad(lenPos) = (bad(lenPos) + delta).toByte
      intercept[Exception] { ArrowIpc.readFile(bad); () }
    }
  }

  test("damaged magic rejects — head and tail") {
    val bytes = writeBytes(randRows(3))
    val headBad = bytes.clone(); headBad(0) = 'X'.toByte
    intercept[Exception] { ArrowIpc.readFile(headBad); () }
    val tailBad = bytes.clone(); tailBad(bytes.length - 1) = 'X'.toByte
    intercept[Exception] { ArrowIpc.readFile(tailBad); () }
    intercept[Exception] { ArrowIpc.readFile(Array.empty[Byte]); () }
    intercept[Exception] { ArrowIpc.readFile("not an arrow file".getBytes("UTF-8")); () }
  }

  private def writeStreamBytes(rows: Seq[DocRow]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = ArrowIpc.writeStream(out, rows.iterator)
    assert(n == rows.length)
    out.toByteArray
  }

  test("stream format: round-trip incl. nulls/empty/multi-batch; identical content to file format") {
    for (n <- Seq(1, ArrowIpc.BatchRows + 1, 2 * ArrowIpc.BatchRows + 5)) {
      val rows = randRows(n)
      val got = ArrowIpc.readStream(writeStreamBytes(rows))
      assert(got.length == n, s"n=$n")
      assert(got == rows.toVector, s"n=$n content drift")
      // both formats must carry identical content (shared population loop)
      assert(ArrowIpc.readFile(writeBytes(rows)) == got, s"n=$n cross-format drift")
    }
  }

  test("stream format: truncations reject; the two formats do not blur") {
    val rows = randRows(30)
    val stream = writeStreamBytes(rows)
    val file = writeBytes(rows)
    // cuts into the schema message or a batch body must throw; cuts into
    // the trailing EOS marker are NOT asserted — the reference reader may
    // treat a clean EOF there as end-of-stream, which is its contract
    for (k <- Seq(1, 4, 8, stream.length / 3, stream.length / 2))
      intercept[Exception] { ArrowIpc.readStream(stream.take(k)); () }
    // a file-format payload must reject in the stream reader and vice versa
    intercept[Exception] { ArrowIpc.readStream(file); () }
    intercept[Exception] { ArrowIpc.readFile(stream); () }
  }

  test("a structurally valid file with the WRONG schema rejects before data") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, VectorSchemaRoot}
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    val alloc = new RootAllocator(Long.MaxValue)
    val schema = new Schema(java.util.Arrays.asList(
      new Field("x", FieldType.notNullable(new ArrowType.Int(64, true)), null)))
    val root = VectorSchemaRoot.create(schema, alloc)
    val p = tmpFile()
    try {
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      val writer = new ArrowFileWriter(root, null, ch)
      writer.start()
      root.allocateNew()
      root.getVector("x").asInstanceOf[BigIntVector].setSafe(0, 42L)
      root.setRowCount(1)
      writer.writeBatch()
      writer.end()
      writer.close()
      ch.close()
      val ex = intercept[IllegalArgumentException] {
        ArrowIpc.readFile(java.nio.file.Files.readAllBytes(p)); ()
      }
      assert(ex.getMessage.contains("schema"))
    } finally {
      root.close(); alloc.close()
      java.nio.file.Files.delete(p)
    }
  }
}
