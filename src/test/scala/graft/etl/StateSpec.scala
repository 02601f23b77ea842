package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The published-state store: a root's key moves with the fixture files and
  * with the compiled code, never with anything else, and the publish-once
  * memo builds an artifact once and serves it without a job afterwards. */
class StateSpec extends SparkSpec {

  private def docs(n: Int): DataFrame = spark.createDataFrame(
    (0 until n).map(i => Row(i.toLong, s"doc $i")).toList.asJava,
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def fixture(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("state_spec").toString
    docs(n).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def root(dir: String, code: String = State.codeFingerprint) =
    State.root(spark, "spec", "docs", dir, "documents", code)

  test("the same inputs give the same root, under the family and name") {
    val dir = fixture(3)
    assert(root(dir) == root(dir))
    assert(root(dir).startsWith(s"${sys.props("java.io.tmpdir")}/graft_spec/docs_"))
    assert(root(dir) != root(fixture(3)), "the input dir is part of the key")
  }

  test("rewriting a fixture file gives a new root") {
    val dir = fixture(3)
    val before = root(dir)
    Thread.sleep(1100) // parquet mtime granularity can be a full second
    docs(5).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(root(dir) != before)
  }

  test("a different code fingerprint gives a new root; the current artifact is unreachable from it") {
    val dir = fixture(3)
    assert(State.codeFingerprint.matches("[0-9a-f]{16}"))
    val current = root(dir)
    val rebuilt = root(dir, code = "another-build")
    assert(rebuilt != current)
    State.memo(spark, current)(Warehouse.publish(spark, _, docs(3)))
    assert(Warehouse.exists(spark, current))
    assert(!Warehouse.exists(spark, rebuilt),
      "an artifact published by other code must not be served")
  }

  test("the memo builds once: a second call launches no Spark job") {
    val target = root(fixture(4))
    var builds = 0
    def memo() = State.memo(spark, target) { t => builds += 1; Warehouse.publish(spark, t, docs(4)) }
    val first = memo()
    var second: DataFrame = null
    assert(jobsDuring { second = memo() } == 0)
    assert(builds == 1)
    assert(second.collect().toSet == first.collect().toSet)

    val snapRoot = s"$target-snap"
    var snapBuilds = 0
    def memoSnap() = State.memoSnapshot(spark, snapRoot) { r =>
      snapBuilds += 1; Warehouse.publishSnapshot(spark, r, Seq("base" -> docs(2)))
    }
    val snap = memoSnap()
    assert(jobsDuring(assert(memoSnap() == snap)) == 0)
    assert(snapBuilds == 1)
  }
}
