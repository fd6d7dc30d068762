package graft.queries

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Derived data landed once per process under the sink root
  * ([[StorageQueries.target]]) and then only read: the one land-once
  * protocol, which every landing in the engine goes through.
  *
  *  - '''Key.''' A landing is keyed by the file listing (path, length,
  *    mtime) of the paths it reads, plus every value its write depends on
  *    (a band count, an algorithm version, the time zone a column is
  *    rendered in). Its dir is `<name>_<hash of the key>`, so another
  *    source, a source rewritten in place, or another parameter lands a new
  *    dir beside the old one, and alternating sources keep one landing
  *    each.
  *  - '''Write.''' The caller writes into a temp dir; the landing replaces
  *    its dir with it by a rename, then writes its marker last, to a temp
  *    file moved into place with `ATOMIC_MOVE`. A dir without a complete
  *    marker is never served.
  *  - '''Lock.''' One JVM lock per landing serializes the check and the
  *    write, so of two concurrent landers one writes and the other reads.
  *    Two processes never share a landing: the sink root is per process.
  *  - '''Record.''' The marker (`_LANDED`, hidden from Spark's listings)
  *    holds the key's hash, the schema that was written and the landing's
  *    own file listing (name, length). The key is stored as a hash, so no
  *    key can upset the marker's line format.
  *  - '''Hit.''' A hit needs the marker for this key and every recorded
  *    file present at its recorded length: stat calls only, no Spark job.
  *    A deleted or partly deleted landing, or a marker for another key,
  *    lands again.
  *  - '''Read.''' A hit returns the dir and the recorded schema, and
  *    parquet landings are read back with that schema, so no read infers.
  */
private[graft] final class Landing private (val dir: String, keyHash: String) {
  import Landing._

  private val root = new File(dir)
  private val marker = new File(root, Marker)
  private val lock = Locks.computeIfAbsent(dir, _ => new Object)

  /** The landing, if a complete one for this key is in place. */
  private def hit: Option[Landed] =
    if (!marker.isFile) None
    else new String(Files.readAllBytes(marker.toPath), UTF_8).split("\n").toList match {
      case `keyHash` :: schema :: files if files.forall(present) =>
        scala.util.Try(DataType.fromJson(schema).asInstanceOf[StructType]).toOption.map(Landed(dir, _))
      case _ => None
    }

  private def present(entry: String): Boolean = entry.split(" ", 2) match {
    case Array(length, name) => val f = new File(root, name); f.isFile && f.length.toString == length
    case _ => false
  }

  /** The landing: a [[hit]], or else what `write` writes into the temp dir
    * it is given (which does not exist yet) and returns the schema of.
    */
  def orWrite(write: String => StructType): Landed = lock.synchronized {
    hit.getOrElse {
      val tmp = new File(dir + "_tmp")
      StorageQueries.deleteRecursively(tmp)
      val schema = write(tmp.getPath)
      val files = tmp.listFiles().filter(_.isFile).map(f => s"${f.length} ${f.getName}").sorted.toList
      StorageQueries.deleteRecursively(root)
      Files.move(tmp.toPath, root.toPath)
      val record = new File(root, Marker + ".tmp")
      Files.write(record.toPath, (keyHash :: schema.json :: files).mkString("\n").getBytes(UTF_8))
      Files.move(record.toPath, marker.toPath, StandardCopyOption.ATOMIC_MOVE)
      Landed(dir, schema)
    }
  }

  /** The landing of `df`'s rows as parquet. */
  def parquet(df: => DataFrame): Landed = orWrite { tmp =>
    val rows = df
    rows.write.parquet(tmp)
    rows.schema
  }

  /** `compute`'s rows through this landing. A hit is read back, unless
    * `forceRecompute`: then `compute` runs fresh, for callers whose gate is
    * the computation itself, and lands only when the landing is stale.
    */
  def rows(spark: SparkSession, forceRecompute: Boolean)(compute: => DataFrame): DataFrame =
    hit match {
      case Some(_) if forceRecompute => compute
      case Some(landed) => landed.read(spark)
      case None => parquet(compute).read(spark)
    }
}

private[graft] object Landing {

  private val Marker = "_LANDED"

  private val Locks = new ConcurrentHashMap[String, Object]()

  /** A complete landing: its dir and the schema written there. */
  final case class Landed(dir: String, schema: StructType) {
    def read(spark: SparkSession): DataFrame = spark.read.schema(schema).parquet(dir)
  }

  /** The landing `name` of what is derived from `reads` (files or dirs,
    * listed recursively; a missing path lists as nothing) under `params`.
    */
  def apply(spark: SparkSession, name: String, reads: Seq[String], params: Any*): Landing = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listing = reads.flatMap { read =>
      val path = new Path(read)
      val fs = path.getFileSystem(conf)
      val files =
        if (!fs.exists(path)) Nil
        else {
          val it = fs.listFiles(path, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").toList.sorted
        }
      read :: files
    }
    // each part length-prefixed, so no two part lists join to one key
    val key = (listing ++ params.map(String.valueOf)).map(p => s"${p.length}:$p").mkString
    val hash = java.security.MessageDigest.getInstance("SHA-256").digest(key.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
    new Landing(StorageQueries.target(s"${name}_${hash.take(16)}"), hash)
  }
}
