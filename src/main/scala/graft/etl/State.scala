package graft.etl

import java.nio.file.{Files, Path => JPath, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The one keyed store for PUBLISHED DERIVED STATE: trained centroids,
  * inverted lists, lexical indexes, codebooks, graphs, published rankings,
  * row-count manifests and layouts — everything a query builds once from a
  * fixture table and serves from afterwards.
  *
  * Location: `${java.io.tmpdir}/graft_<family>/<name>_<key>` (the JVM temp
  * dir stands in for the warehouse root; it is read on every call, so a
  * process that repoints it gets a fresh store).
  *
  * Key: MD5 over the input dir, the file listing of the fixture table the
  * artifact derives from (name:len:mtime of every part) and the CODE
  * FINGERPRINT — a digest of the compiled classes that hold `graft.Tables`.
  * A rewritten fixture or any rebuilt code therefore re-keys every root:
  * no artifact published by other inputs or other code can be served, and
  * no hand-maintained version salt is needed to keep it so. Roots written
  * under an older key are not collected.
  *
  * Publication goes through the warehouse pointer commits (`Warehouse`), so
  * racing first callers both publish identical bytes and the last pointer
  * swap wins — benign for the deterministic builds kept here. */
object State {

  private def md5(bytes: Array[Byte]*): String = {
    val md = MessageDigest.getInstance("MD5")
    bytes.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Digest of the class directory (or jar) that holds `graft.Tables`:
    * every file's relative path and bytes, in path order. Worked out once
    * per JVM. */
  lazy val codeFingerprint: String = {
    val loc = Paths.get(graft.Tables.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val files: Seq[JPath] =
      if (Files.isDirectory(loc)) {
        val walk = Files.walk(loc)
        try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
          .sortBy(loc.relativize(_).toString)
        finally walk.close()
      } else Seq(loc)
    md5(files.flatMap(f => Seq(loc.relativize(f).toString.getBytes("UTF-8"), Files.readAllBytes(f))): _*)
  }

  /** The state key of artifacts derived from `$dir/$table.parquet` under
    * code fingerprint `code`. Metadata-only: one driver-side listing. */
  def key(spark: SparkSession, dir: String, table: String, code: String = codeFingerprint): String =
    md5(s"$dir|$table|${graft.Tables.listing(spark, s"$dir/$table.parquet")}|$code".getBytes("UTF-8"))

  /** Where artifact `name` of `family`, derived from `$dir/$table.parquet`,
    * lives. */
  def root(spark: SparkSession, family: String, name: String, dir: String, table: String,
           code: String = codeFingerprint): String =
    s"${sys.props("java.io.tmpdir")}/graft_$family/${name}_${key(spark, dir, table, code)}"

  /** Publish-once: the current version of `target`, published first by
    * `publish(target)` if the target has never been committed. */
  def memo(spark: SparkSession, target: String)(publish: String => Any): DataFrame = {
    if (!Warehouse.exists(spark, target)) publish(target)
    Warehouse.read(spark, target)
  }

  /** Publish-once for a multi-table snapshot root: the current member →
    * version map, committed first by `publish(root)` if the root has never
    * been committed. */
  def memoSnapshot(spark: SparkSession, root: String)
                  (publish: String => Map[String, String]): Map[String, String] =
    Warehouse.readSnapshot(spark, root).getOrElse(publish(root))
}
