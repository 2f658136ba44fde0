package graft

import graft.tools.QueryProfile
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Smoke of the driver contract: entry() rows > 0; every query runs and
  * returns rows at sf0.001; every oracleSql key exists in queries; every
  * generator-corpus query equals its generator ground truth; the
  * QueryProfile tool profiles those queries.
  */
class EntrySpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  test("entry() returns rows (driver smoke contract)") {
    spark.sparkContext.setLogLevel("WARN")
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query returns rows at sf0.001; oracle keys are valid") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n > 0, s"query $name returned no rows")
    }
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every generator-corpus query matches its generator ground truth") {
    SparkEntry.genRows.foreach { row =>
      val q = row.name
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.orderBy(df.columns.map(org.apache.spark.sql.functions.col): _*)
          .collect().map(_.toSeq).toSeq
      val got = SparkEntry.queries(q)(spark, "unused")
      val want = SparkEntry.expected(q)(spark, "unused")
      assert(got.columns.toSeq == want.columns.toSeq, q)
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType), q)
      val (g, w) = (sorted(got), sorted(want))
      assert(g.nonEmpty, s"$q returned no rows")
      assert(g.size == w.size, s"$q: ${g.size} vs ${w.size} rows")
      g.zip(w).foreach { case (a, b) => assert(a == b, q) }
    }
  }

  test("QueryProfile: one JSON line per query and rep, plans only in planDir") {
    val names = Seq("q_doc_catalog", "q_topk")
    def listing(p: Path): Set[String] =
      if (!Files.isDirectory(p)) Set.empty
      else Files.list(p).iterator().asScala.map(_.toString).toSet
    val cwd = Paths.get("").toAbsolutePath
    val cwdBefore = listing(cwd)
    val plansBefore = listing(cwd.resolve("plans"))
    val tmp = tempDir("graft-queryprofile")
    val planDir = tmp.resolve("plans")
    try {
      val lines = QueryProfile.profile(spark, sfDir, names, reps = 1,
        Some(planDir.toString))
      assert(lines.size == 2)
      names.zip(lines).foreach { case (q, line) =>
        val num = (k: String) =>
          s""""$k":(-?[0-9.]+)""".r.findFirstMatchIn(line)
            .getOrElse(fail(s"no $k in $line")).group(1).toDouble
        assert(line.startsWith(s"""{"query":"$q","rep":0,"""), line)
        Seq("build_ms", "plan_ms", "exec_ms", "jobs", "stages")
          .foreach(k => assert(num(k) >= 0, s"$k < 0 in $line"))
        assert(num("jobs") >= 1, line)
        assert(num("rows") == SparkEntry.queries(q)(spark, sfDir).count(), line)
      }
      assert(listing(planDir) == names.map(q => planDir.resolve(s"$q.txt").toString).toSet)
      names.foreach(q => assert(Files.size(planDir.resolve(s"$q.txt")) > 0))
      assert(listing(tmp) == Set(planDir.toString))
      assert(listing(cwd) == cwdBefore && listing(cwd.resolve("plans")) == plansBefore,
        "QueryProfile wrote outside its planDir")
    } finally {
      listing(planDir).foreach(f => Files.delete(Paths.get(f)))
      Files.deleteIfExists(planDir)
      Files.delete(tmp)
    }
  }
}
