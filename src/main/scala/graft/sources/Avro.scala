package graft.sources

/** Avro Object Container Files, from scratch — the highest-traffic
  * interchange format sitting beside JSONL/CSV/ORC/TFRecord in real
  * training-data estates. `spark-avro` is absent from this environment's
  * jars, so the codec is hand-rolled from the PUBLIC Avro 1.x spec the
  * same way [[TfRecord]] hand-rolls TFRecord framing:
  *
  *   header:  magic "Obj\x01"
  *            file metadata map<string,bytes> (avro.schema JSON, avro.codec)
  *            16-byte sync marker
  *   blocks:  long record-count   (zigzag varint)
  *            long byte-size      (zigzag varint, AFTER codec)
  *            data (records back-to-back; codec=deflate is RFC1951 raw
  *                  deflate, no zlib wrapper; codec=snappy appends a
  *                  4-byte big-endian CRC32 of the uncompressed data —
  *                  so snappy blocks DETECT payload corruption;
  *                  codec=zstandard is the raw zstd frame via zstd-jni)
  *            the SAME 16-byte sync marker
  *
  * Record fields are Avro binary encoding in schema order: long/int are
  * zigzag varints, string/bytes are length-prefixed, double is the 8-byte
  * IEEE bit pattern little-endian, boolean one byte, and a nullable field
  * is the two-branch union ["null", T] (varint branch index then the
  * value). The supported subset is a record of primitives, the
  * `timestamp-micros` and bytes-`decimal` logical types, and
  * block-encoded arrays of those — the columns real training estates
  * ship (token arrays, event timestamps, money). Nested records/maps/
  * multi-branch unions are out of scope and the schema validator rejects
  * them loudly.
  *
  * The reader is strict the way the media codecs and [[TfRecord]] are:
  * magic verified, the embedded schema JSON parsed (Jackson, already on
  * Spark's classpath) and structurally compared to the expected schema,
  * codec whitelisted, EVERY block's trailing sync marker compared to the
  * header's, every varint/length bounds-checked before allocation, each
  * block required to decode to exactly its declared record count with no
  * bytes left over, and the file required to end exactly on a block
  * boundary. Truncation, trailing garbage, corrupt counts, or a foreign
  * block spliced in (wrong sync) all reject with IllegalArgumentException.
  */
object Avro {

  sealed trait AvroType {
    /** The full JSON fragment this type renders as inside a field's
      * "type" attribute (quoted name for primitives, an object for
      * logical types and arrays, an array for the nullable union).
      */
    def typeJson: String
  }
  case object ALong extends AvroType { val typeJson = "\"long\"" }
  case object AInt extends AvroType { val typeJson = "\"int\"" }
  case object AString extends AvroType { val typeJson = "\"string\"" }
  case object ADouble extends AvroType { val typeJson = "\"double\"" }
  case object ABoolean extends AvroType { val typeJson = "\"boolean\"" }
  case object ABytes extends AvroType { val typeJson = "\"bytes\"" }
  /** The `timestamp-micros` logical type: a long of microseconds since
    * the epoch (the spec's annotated-long form — wire layout identical
    * to ALong, the annotation travels in the schema JSON).
    */
  case object ATimestampMicros extends AvroType {
    val typeJson = """{"type":"long","logicalType":"timestamp-micros"}"""
  }
  /** The `decimal` logical type over bytes: the two's-complement
    * big-endian unscaled value, scale/precision declared in the schema.
    */
  final case class ADecimal(precision: Int, scale: Int) extends AvroType {
    require(precision > 0 && scale >= 0 && scale <= precision,
      s"bad decimal($precision,$scale)")
    def typeJson: String =
      s"""{"type":"bytes","logicalType":"decimal","precision":$precision,"scale":$scale}"""
  }
  /** Avro arrays, block-encoded on the wire (count, items, …, 0
    * terminator; a negative count carries a byte size — readers accept
    * both forms, this writer emits the positive form).
    */
  final case class AArray(elem: AvroType) extends AvroType {
    require(!elem.isInstanceOf[AArray] && !elem.isInstanceOf[ANullable],
      "array elements must be non-nullable primitives or logical types in this subset")
    def typeJson: String = s"""{"type":"array","items":${elem.typeJson}}"""
  }
  /** The two-branch union ["null", inner]. */
  final case class ANullable(inner: AvroType) extends AvroType {
    def typeJson: String = s"""["null",${inner.typeJson}]"""
    require(!inner.isInstanceOf[ANullable], "nested nullable unions are not Avro")
  }

  final case class Field(name: String, tpe: AvroType)

  final case class RecordSchema(name: String, fields: IndexedSeq[Field]) {
    /** Canonical-enough schema JSON (field order is significant in Avro). */
    def toJson: String = {
      val fs = fields.map { f =>
        s"""{"name":${quote(f.name)},"type":${f.tpe.typeJson}}"""
      }.mkString(",")
      s"""{"type":"record","name":${quote(name)},"fields":[$fs]}"""
    }
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  /** Parse a schema JSON (as embedded in a file's avro.schema metadata)
    * back to the supported subset. Jackson is the JSON parser Spark itself
    * ships; anything outside record-of-primitives rejects loudly.
    */
  def parseSchemaJson(json: String): RecordSchema = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val root: JsonNode =
      try new ObjectMapper().readTree(json)
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"unparseable avro.schema JSON: ${e.getMessage}")
      }
    require(root != null && root.isObject, "avro.schema is not a JSON object")
    require(root.path("type").asText("") == "record",
      s"unsupported top-level avro type '${root.path("type").asText("")}' (record-of-primitives only)")
    val name = root.path("name").asText("")
    require(name.nonEmpty, "record schema missing name")
    val fieldsNode = root.path("fields")
    require(fieldsNode.isArray, "record schema missing fields array")
    def prim(s: String): AvroType = s match {
      case "long" => ALong; case "int" => AInt; case "string" => AString
      case "double" => ADouble; case "boolean" => ABoolean; case "bytes" => ABytes
      case other => throw new IllegalArgumentException(
        s"unsupported avro primitive '$other'")
    }
    // a non-union type node: a primitive name, a logical-type object
    // ({"type":"long","logicalType":"timestamp-micros"} / decimal-over-
    // bytes), or an array object ({"type":"array","items": inner})
    def simple(t: JsonNode, fname: String): AvroType =
      if (t.isTextual) prim(t.asText())
      else if (t.isObject) {
        val base = t.path("type").asText("")
        val logical = t.path("logicalType").asText("")
        (base, logical) match {
          case ("long", "timestamp-micros") => ATimestampMicros
          case ("bytes", "decimal") =>
            val p = t.path("precision").asInt(-1)
            val s = t.path("scale").asInt(0)
            require(p > 0, s"field '$fname': decimal missing/invalid precision")
            ADecimal(p, s)
          case ("array", "") =>
            val items = t.path("items")
            require(!items.isMissingNode,
              s"field '$fname': array type missing items")
            AArray(simple(items, fname) match {
              case _: AArray => throw new IllegalArgumentException(
                s"field '$fname': nested arrays are outside this subset")
              case e => e
            })
          case (b, l) => throw new IllegalArgumentException(
            s"field '$fname': unsupported type object (type=$b logicalType=$l)")
        }
      }
      else throw new IllegalArgumentException(
        s"unsupported avro field type for '$fname'")
    val fields = (0 until fieldsNode.size()).map { i =>
      val f = fieldsNode.get(i)
      val fname = f.path("name").asText("")
      require(fname.nonEmpty, s"field $i missing name")
      val t = f.path("type")
      val tpe: AvroType =
        if (t.isArray && t.size() == 2 && t.get(0).isTextual &&
            t.get(0).asText() == "null")
          ANullable(simple(t.get(1), fname) match {
            case _: ANullable => throw new IllegalArgumentException(
              s"field '$fname': nested nullable unions are not Avro")
            case inner => inner
          })
        else if (t.isArray) throw new IllegalArgumentException(
          s"unsupported avro union for '$fname': only [\"null\", T] is in this subset")
        else simple(t, fname)
      Field(fname, tpe)
    }
    RecordSchema(name, fields)
  }

  /** Bound on one block's decompressed payload (64 MiB) and record count:
    * corrupt varints fail fast instead of allocating unbounded buffers.
    */
  val MaxBlockBytes: Int = 1 << 26
  val MaxBlockRecords: Int = 1 << 22

  val Magic: Array[Byte] = Array('O'.toByte, 'b'.toByte, 'j'.toByte, 1.toByte)

  // ---- binary encoding ---------------------------------------------------

  private final class ByteReader(val bytes: Array[Byte], var pos: Int, val end: Int) {
    def remaining: Int = end - pos
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$msg at offset $pos")
    def readByte(): Int = {
      if (pos >= end) fail("truncated avro data")
      val b = bytes(pos) & 0xff; pos += 1; b
    }
    /** Zigzag-varint long, bounds-checked (≤10 bytes). The 10th byte can
      * only carry ONE significant bit (bit 63); its other payload bits
      * would be silently dropped by the shift, so a canonical-strict
      * reader rejects them — otherwise a corrupted 10th byte decodes to
      * the same value and corruption passes undetected.
      */
    def readLong(): Long = {
      var shift = 0; var acc = 0L; var b = 0
      do {
        if (shift > 63) fail("varint longer than 10 bytes")
        b = readByte()
        if (shift == 63 && (b & 0x7e) != 0)
          fail("non-canonical varint: 10th byte carries dropped bits")
        acc |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      (acc >>> 1) ^ -(acc & 1) // zigzag decode
    }
    def readSized(msg: String): Array[Byte] = {
      val n = readLong()
      if (n < 0 || n > remaining) fail(s"implausible $msg length $n (remaining $remaining)")
      val out = java.util.Arrays.copyOfRange(bytes, pos, pos + n.toInt)
      pos += n.toInt; out
    }
    def readFixed(n: Int, msg: String): Array[Byte] = {
      if (remaining < n) fail(s"truncated $msg")
      val out = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
      pos += n; out
    }
  }

  private def writeVarLong(out: java.io.ByteArrayOutputStream, value: Long): Unit = {
    var v = (value << 1) ^ (value >> 63) // zigzag encode
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def writeSized(out: java.io.ByteArrayOutputStream, b: Array[Byte]): Unit = {
    writeVarLong(out, b.length.toLong); out.write(b, 0, b.length)
  }

  private def encodeValue(out: java.io.ByteArrayOutputStream, tpe: AvroType, v: Any): Unit =
    (tpe, v) match {
      case (ANullable(_), null)  => writeVarLong(out, 0L) // branch 0 = null
      case (ANullable(inner), x) => writeVarLong(out, 1L); encodeValue(out, inner, x)
      case (ALong, x: Long)      => writeVarLong(out, x)
      case (ATimestampMicros, x: Long) => writeVarLong(out, x)
      case (AInt, x: Int)        => writeVarLong(out, x.toLong)
      case (AString, x: String)  => writeSized(out, x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case (ABytes, x: Array[Byte]) => writeSized(out, x)
      case (ADouble, x: Double)  =>
        val bits = java.lang.Double.doubleToLongBits(x)
        var i = 0; while (i < 8) { out.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
      case (ABoolean, x: Boolean) => out.write(if (x) 1 else 0)
      case (ADecimal(p, s), x: java.math.BigDecimal) =>
        // the spec's bytes-decimal: two's-complement big-endian unscaled
        // value at EXACTLY the declared scale — a value at another scale
        // is a caller bug, rejected rather than silently rescaled/rounded
        val scaled =
          try x.setScale(s)
          catch { case _: ArithmeticException => throw new IllegalArgumentException(
            s"decimal value $x does not fit scale $s exactly") }
        val unscaled = scaled.unscaledValue()
        if (unscaled.abs.toString.length > p)
          throw new IllegalArgumentException(
            s"decimal value $x exceeds precision $p")
        writeSized(out, unscaled.toByteArray)
      case (AArray(elem), xs: Seq[_]) =>
        // one positive-count block then the 0 terminator (readers must
        // also accept the negative-count-with-size form; see decode)
        if (xs.nonEmpty) {
          writeVarLong(out, xs.length.toLong)
          xs.foreach(encodeValue(out, elem, _))
        }
        writeVarLong(out, 0L)
      case (t, x) => throw new IllegalArgumentException(
        s"value ${if (x == null) "null" else x.getClass.getSimpleName} does not fit avro type $t")
    }

  private def decodeValue(in: ByteReader, tpe: AvroType): Any = tpe match {
    case ANullable(inner) =>
      in.readLong() match {
        case 0 => null
        case 1 => decodeValue(in, inner)
        case b => in.fail(s"union branch $b out of range")
      }
    case ALong    => in.readLong()
    case ATimestampMicros => in.readLong()
    case AInt     =>
      val v = in.readLong()
      if (v < Int.MinValue || v > Int.MaxValue) in.fail(s"int field out of range: $v")
      v.toInt
    case AString  => new String(in.readSized("string"), java.nio.charset.StandardCharsets.UTF_8)
    case ABytes   => in.readSized("bytes")
    case ADouble  =>
      val b = in.readFixed(8, "double")
      var bits = 0L; var i = 7
      while (i >= 0) { bits = (bits << 8) | (b(i) & 0xffL); i -= 1 }
      java.lang.Double.longBitsToDouble(bits)
    case ABoolean => in.readByte() match {
      case 0 => false; case 1 => true; case b => in.fail(s"boolean byte $b")
    }
    case ADecimal(p, s) =>
      val b = in.readSized("decimal")
      if (b.isEmpty) in.fail("zero-length decimal bytes")
      val unscaled = new java.math.BigInteger(b)
      if (unscaled.abs.toString.length > p)
        in.fail(s"decimal unscaled value exceeds precision $p")
      new java.math.BigDecimal(unscaled, s)
    case AArray(elem) =>
      // block form: count, items, …, 0 terminator; count<0 means
      // |count| items preceded by a byte-size long (skippable form)
      val out = IndexedSeq.newBuilder[Any]
      var total = 0L
      var n = in.readLong()
      while (n != 0) {
        if (n < 0) { in.readLong(); n = -n } // byte size, unused
        if (n <= 0 || n > MaxBlockRecords || { total += n; total } > MaxBlockRecords)
          in.fail(s"implausible array block count $n")
        var i = 0L
        while (i < n) { out += decodeValue(in, elem); i += 1 }
        n = in.readLong()
      }
      out.result()
  }

  // ---- codecs --------------------------------------------------------------

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length / 3))
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Avro's snappy codec frames each block as snappy(data) + 4-byte
    * BIG-ENDIAN CRC32 of the UNCOMPRESSED data — unlike deflate, the
    * format itself detects payload corruption, which the fuzz spec
    * exercises. snappy-java ships on Spark's classpath.
    */
  private def snappyCompress(data: Array[Byte]): Array[Byte] = {
    val comp = org.xerial.snappy.Snappy.compress(data)
    val crc = new java.util.zip.CRC32
    crc.update(data, 0, data.length)
    val c = crc.getValue
    comp ++ Array[Byte](((c >>> 24) & 0xff).toByte, ((c >>> 16) & 0xff).toByte,
                        ((c >>> 8) & 0xff).toByte, (c & 0xff).toByte)
  }

  private def snappyUncompress(data: Array[Byte]): Array[Byte] = {
    if (data.length < 4)
      throw new IllegalArgumentException("snappy block shorter than its CRC suffix")
    val body = java.util.Arrays.copyOfRange(data, 0, data.length - 4)
    val raw =
      try {
        if (org.xerial.snappy.Snappy.uncompressedLength(body) > MaxBlockBytes)
          throw new IllegalArgumentException(
            s"snappy block inflates past $MaxBlockBytes bytes")
        org.xerial.snappy.Snappy.uncompress(body)
      } catch {
        case e: IllegalArgumentException => throw e
        case e: Exception =>
          throw new IllegalArgumentException(s"corrupt snappy block: ${e.getMessage}")
      }
    val crc = new java.util.zip.CRC32
    crc.update(raw, 0, raw.length)
    val stored =
      ((data(data.length - 4) & 0xffL) << 24) | ((data(data.length - 3) & 0xffL) << 16) |
      ((data(data.length - 2) & 0xffL) << 8) | (data(data.length - 1) & 0xffL)
    if (crc.getValue != stored)
      throw new IllegalArgumentException(
        f"snappy block CRC mismatch: stored 0x$stored%08x, computed 0x${crc.getValue}%08x")
    raw
  }

  /** Avro's `zstandard` codec is the raw zstd frame, no extra checksum
    * (zstd frames carry their own magic + optional content checksum).
    * zstd-jni ships on Spark's classpath.
    */
  private def zstdCompress(data: Array[Byte]): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(data)

  private def zstdUncompress(data: Array[Byte]): Array[Byte] = {
    // strict-validator additions on top of zstd's own checks: the frame
    // magic, and the Frame_Header_Descriptor's Unused_bit (bit 4) — the
    // spec tells DECODERS to ignore it, so a flipped Unused_bit would
    // otherwise be accepted silently; this writer never sets it
    if (data.length < 5)
      throw new IllegalArgumentException("zstd block shorter than a frame header")
    val magicOk = (data(0) & 0xff) == 0x28 && (data(1) & 0xff) == 0xb5 &&
      (data(2) & 0xff) == 0x2f && (data(3) & 0xff) == 0xfd
    if (!magicOk)
      throw new IllegalArgumentException("bad zstd frame magic")
    if ((data(4) & 0x10) != 0)
      throw new IllegalArgumentException(
        "zstd frame-header Unused_bit set — not produced by this writer")
    val size =
      try com.github.luben.zstd.Zstd.getFrameContentSize(data)
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"corrupt zstd frame header: ${e.getMessage}")
      }
    if (size < 0 || size > MaxBlockBytes)
      throw new IllegalArgumentException(
        s"zstd frame declares implausible content size $size")
    try com.github.luben.zstd.Zstd.decompress(data, size.toInt)
    catch {
      case e: Exception =>
        throw new IllegalArgumentException(s"corrupt zstd block: ${e.getMessage}")
    }
  }

  private def inflate(data: Array[Byte], boundHint: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.min(boundHint, math.max(64, data.length * 4)))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch { case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(s"corrupt deflate block: ${e.getMessage}")
          }
        if (n == 0 && inf.needsInput())
          throw new IllegalArgumentException("truncated deflate block")
        out.write(buf, 0, n)
        if (out.size() > MaxBlockBytes)
          throw new IllegalArgumentException(s"deflate block inflates past $MaxBlockBytes bytes")
      }
      out.toByteArray
    } finally inf.end()
  }

  // ---- file write ----------------------------------------------------------

  /** Stream `records` (one Seq[Any] per record, values in schema field
    * order) into one OCF. `codec` is "null", "deflate", "snappy", or
    * "zstandard". The sync marker is caller-supplied so shard writes stay
    * deterministic (task retries re-produce identical bytes); it must be
    * exactly 16 bytes.
    */
  def writeFile(out: java.io.OutputStream, schema: RecordSchema, codec: String,
                sync: Array[Byte], records: Iterator[Seq[Any]],
                blockRecords: Int = 4096): Unit = {
    require(sync.length == 16, "sync marker must be 16 bytes")
    require(codec == "null" || codec == "deflate" || codec == "snappy" ||
      codec == "zstandard", s"unsupported codec $codec")
    require(blockRecords > 0 && blockRecords <= MaxBlockRecords, "bad blockRecords")
    val header = new java.io.ByteArrayOutputStream()
    header.write(Magic, 0, Magic.length)
    // file metadata map: one block of 2 entries, then the 0 terminator
    writeVarLong(header, 2L)
    writeSized(header, "avro.schema".getBytes("UTF-8"))
    writeSized(header, schema.toJson.getBytes("UTF-8"))
    writeSized(header, "avro.codec".getBytes("UTF-8"))
    writeSized(header, codec.getBytes("UTF-8"))
    writeVarLong(header, 0L)
    header.write(sync, 0, 16)
    out.write(header.toByteArray)
    val block = new java.io.ByteArrayOutputStream(1 << 16)
    var inBlock = 0
    def flushBlock(): Unit = if (inBlock > 0) {
      val raw = block.toByteArray
      require(raw.length <= MaxBlockBytes,
        s"block grew past $MaxBlockBytes bytes — lower blockRecords")
      val payload = codec match {
        case "deflate" => deflate(raw)
        case "snappy"  => snappyCompress(raw)
        case "zstandard" => zstdCompress(raw)
        case _         => raw
      }
      val frame = new java.io.ByteArrayOutputStream(payload.length + 24)
      writeVarLong(frame, inBlock.toLong)
      writeVarLong(frame, payload.length.toLong)
      out.write(frame.toByteArray)
      out.write(payload)
      out.write(sync, 0, 16)
      block.reset(); inBlock = 0
    }
    records.foreach { rec =>
      require(rec.length == schema.fields.length,
        s"record arity ${rec.length} != schema arity ${schema.fields.length}")
      var i = 0
      while (i < rec.length) { encodeValue(block, schema.fields(i).tpe, rec(i)); i += 1 }
      inBlock += 1
      if (inBlock >= blockRecords) flushBlock()
    }
    flushBlock()
  }

  // ---- file read -----------------------------------------------------------

  /** Decode a whole OCF with READER-SCHEMA RESOLUTION per the public Avro
    * spec's schema-resolution rules (the subset matching this codec):
    * records are decoded with the file's embedded WRITER schema (so the
    * wire layout is always the writer's), then projected to the reader's
    * fields BY NAME — a writer field absent from the reader is decoded
    * and discarded, a reader field absent from the writer takes its
    * declared default, and a reader field whose type is the ["null", T]
    * union of the writer's T is promoted (the compatible-widening this
    * subset supports). A reader field missing from the writer WITHOUT a
    * default is a resolution error. Framing strictness is identical to
    * [[readFile]].
    */
  def readResolved(bytes: Array[Byte], reader: RecordSchema,
                   defaults: Map[String, Any] = Map.empty): IndexedSeq[Seq[Any]] = {
    val writer = embeddedSchema(bytes)
    val plan: IndexedSeq[Either[Any, Int]] = reader.fields.map { rf =>
      writer.fields.indexWhere(_.name == rf.name) match {
        case -1 =>
          if (!defaults.contains(rf.name))
            throw new IllegalArgumentException(
              s"reader field '${rf.name}' absent from writer schema and has no default")
          val d = defaults(rf.name)
          if (!defaultFits(rf.tpe, d))
            throw new IllegalArgumentException(
              s"default for reader field '${rf.name}' (${if (d == null) "null" else d.getClass.getSimpleName}) " +
              s"does not fit its declared type ${rf.tpe}")
          Left(d)
        case i =>
          (rf.tpe, writer.fields(i).tpe) match {
            case (a, b) if a == b                    => () // exact
            case (ANullable(inner), w) if inner == w => () // T → ["null",T]
            case (r, w) => throw new IllegalArgumentException(
              s"field '${rf.name}': writer type $w does not resolve to reader type $r")
          }
          Right(i)
      }
    }
    readFile(bytes, writer).map { rec =>
      plan.map {
        case Left(default) => default
        case Right(i)      => rec(i)
      }
    }
  }

  /** Does a caller-supplied default value's runtime class fit an Avro
    * type? Checked when the resolution PLAN is built, so a mistyped
    * default rejects at the cause rather than at a downstream cast.
    */
  private def defaultFits(tpe: AvroType, v: Any): Boolean = (tpe, v) match {
    case (ANullable(_), null)  => true
    case (ANullable(inner), x) => defaultFits(inner, x)
    case (ALong, _: java.lang.Long)       => true
    case (ATimestampMicros, _: java.lang.Long) => true
    case (AInt, _: java.lang.Integer)     => true
    case (AString, _: String)             => true
    case (ADouble, _: java.lang.Double)   => true
    case (ABoolean, _: java.lang.Boolean) => true
    case (ABytes, _: Array[Byte])         => true
    case (ADecimal(_, _), _: java.math.BigDecimal) => true
    case (AArray(elem), xs: Seq[_])       => xs.forall(defaultFits(elem, _))
    case _                                => false
  }

  /** Parse just the header far enough to return the embedded writer
    * schema (same strictness as [[readFile]]'s header path).
    */
  def embeddedSchema(bytes: Array[Byte]): RecordSchema = {
    val in = new ByteReader(bytes, 0, bytes.length)
    val magic = in.readFixed(4, "avro magic")
    if (!java.util.Arrays.equals(magic, Magic)) in.fail("bad avro magic")
    var schemaJson: Option[String] = None
    var n = in.readLong()
    while (n != 0) {
      val abs = math.abs(n)
      if (abs > 1000) in.fail(s"implausible metadata entry count $abs")
      if (n < 0) { in.readLong(); () }
      var i = 0L
      while (i < abs) {
        val k = new String(in.readSized("metadata key"), "UTF-8")
        val v = in.readSized("metadata value")
        if (k == "avro.schema") schemaJson = Some(new String(v, "UTF-8"))
        i += 1
      }
      n = in.readLong()
    }
    parseSchemaJson(schemaJson.getOrElse(in.fail("file carries no avro.schema")))
  }

  /** Decode a whole OCF strictly against `expected`: magic, schema
    * structural equality (parsed from the embedded JSON, not string
    * compare — whitespace/attribute-order variants of the same schema
    * are accepted), codec whitelist, per-block sync markers, exact
    * per-block record counts, and end-of-file exactly on a block
    * boundary. Any violation throws IllegalArgumentException.
    */
  def readFile(bytes: Array[Byte], expected: RecordSchema): IndexedSeq[Seq[Any]] = {
    val in = new ByteReader(bytes, 0, bytes.length)
    val magic = in.readFixed(4, "avro magic")
    if (!java.util.Arrays.equals(magic, Magic))
      in.fail("bad avro magic")
    // metadata map (possibly multiple blocks, count<0 form carries a size)
    var schemaJson: Option[String] = None
    var codec = "null"
    var n = in.readLong()
    while (n != 0) {
      val abs = math.abs(n)
      if (abs > 1000) in.fail(s"implausible metadata entry count $abs")
      if (n < 0) { in.readLong(); () } // block byte-size, unused
      var i = 0L
      while (i < abs) {
        val k = new String(in.readSized("metadata key"), "UTF-8")
        val v = in.readSized("metadata value")
        if (k == "avro.schema") schemaJson = Some(new String(v, "UTF-8"))
        if (k == "avro.codec") codec = new String(v, "UTF-8")
        i += 1
      }
      n = in.readLong()
    }
    val embedded = parseSchemaJson(schemaJson.getOrElse(in.fail("file carries no avro.schema")))
    require(embedded == expected,
      s"schema mismatch: file carries ${embedded.toJson}, expected ${expected.toJson}")
    if (codec != "null" && codec != "deflate" && codec != "snappy" &&
        codec != "zstandard")
      in.fail(s"unsupported codec '$codec'")
    val sync = in.readFixed(16, "header sync marker")
    val out = IndexedSeq.newBuilder[Seq[Any]]
    while (in.remaining > 0) {
      val count = in.readLong()
      if (count <= 0 || count > MaxBlockRecords) in.fail(s"implausible block record count $count")
      val size = in.readLong()
      if (size <= 0 || size > MaxBlockBytes || size > in.remaining)
        in.fail(s"implausible block byte size $size (remaining ${in.remaining})")
      val payload = in.readFixed(size.toInt, "block data")
      val blockSync = in.readFixed(16, "block sync marker")
      if (!java.util.Arrays.equals(blockSync, sync))
        in.fail("block sync marker does not match header — foreign or torn block")
      val raw = codec match {
        case "deflate" => inflate(payload, MaxBlockBytes)
        case "snappy"  => snappyUncompress(payload)
        case "zstandard" => zstdUncompress(payload)
        case _         => payload
      }
      val r = new ByteReader(raw, 0, raw.length)
      var i = 0L
      while (i < count) {
        val rec = new Array[Any](expected.fields.length)
        var f = 0
        while (f < expected.fields.length) {
          rec(f) = decodeValue(r, expected.fields(f).tpe); f += 1
        }
        out += scala.collection.immutable.ArraySeq.unsafeWrapArray(rec)
        i += 1
      }
      if (r.remaining != 0)
        r.fail(s"block decoded ${count} records with ${r.remaining} bytes left over")
    }
    out.result()
  }
}
