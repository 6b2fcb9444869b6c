package graft

import java.nio.file.Files
import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.near.{Ingest, ScaleChain}
import graft.queries.{FixtureIO, NearOracles, NearQueries}

/** The independent DuckDB oracle as part of the test gate: each result
  * must equal its [[NearOracles.sql]] twin, run in DuckDB over the same
  * parquet inputs, as a multiset of rows with columns matched by name
  * and cells compared as text (what `dev/compare.py` checks on a
  * `graft.Verify` dump).
  *
  * It checks every [[NearQueries.queries]] entry, and then the
  * `near_scale_*` entries again over ScaleChain seeds the registry does
  * not use: which event shapes (hash collisions, fork placements,
  * create/delete churn) a chain contains depends on its seed. Three
  * seeds go through the batch path and one through the streaming path.
  */
class NearOracleSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  private lazy val tmp = Files.createTempDirectory("graft_oracle_spec_")

  private lazy val duck: Connection = {
    Class.forName("org.duckdb.DuckDBDriver")
    val c = DriverManager.getConnection("jdbc:duckdb:")
    val st = c.createStatement()
    st.execute("SET memory_limit = '1GB'")
    st.execute("SET threads = 4")
    st.close()
    c
  }

  override def afterAll(): Unit = {
    duck.close()
    val files = Files.walk(tmp)
    try files.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    finally files.close()
    super.afterAll()
  }

  private var dumps = 0

  /** `got` equals what `sql` computes in DuckDB. */
  private def assertAgrees(got: DataFrame, sql: String): Unit = {
    dumps += 1
    val dir = tmp.resolve(s"got$dumps").toString
    got.coalesce(1).write.parquet(dir)
    val st = duck.createStatement()
    try {
      st.execute(s"CREATE OR REPLACE TEMP TABLE exp AS $sql")
      st.execute("CREATE OR REPLACE TEMP TABLE got AS " +
        s"SELECT * FROM read_parquet('$dir/*.parquet')")
      def columns(t: String): Seq[String] = {
        val md = st.executeQuery(s"SELECT * FROM $t LIMIT 0").getMetaData
        (1 to md.getColumnCount).map(md.getColumnName).sorted
      }
      val cols = columns("exp")
      assert(columns("got") == cols, "column names differ")
      val text = cols.map(c => s"""CAST("$c" AS VARCHAR)""").mkString(", ")
      def rows(q: String): Seq[String] = {
        val rs = st.executeQuery(q)
        Iterator.continually(rs).takeWhile(_.next()).map(r =>
          (1 to cols.size).map(i => String.valueOf(r.getString(i)))
            .mkString("(", ", ", ")")).toSeq
      }
      def only(a: String, b: String): Seq[String] =
        rows(s"SELECT $text FROM $a EXCEPT ALL SELECT $text FROM $b LIMIT 3")
      def count(t: String): Long = {
        val rs = st.executeQuery(s"SELECT count(*) FROM $t")
        rs.next()
        rs.getLong(1)
      }
      val (onlyExp, onlyGot) = (only("exp", "got"), only("got", "exp"))
      assert(onlyExp.isEmpty && onlyGot.isEmpty,
        s"oracle-only rows $onlyExp; Spark-only rows $onlyGot " +
          s"(oracle ${count("exp")} rows, Spark ${count("got")})")
    } finally st.close()
  }

  NearQueries.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name equals its DuckDB twin") {
      // The near_* entries read the embedded fixture chains; their data
      // directory argument is unused.
      assertAgrees(NearQueries.queries(name)(spark, ""), NearOracles.sql(name))
    }
  }

  /** A seed's normalized chain and lockup states, written where the
    * retargeted oracle SQL reads them.
    */
  private final class Seeded(seed: Long) {
    val dir: String = tmp.resolve(s"seed$seed").toString
    lazy val chain: Seq[String] = {
      val c = ScaleChain.chain(seed = seed)
      val norm = Ingest.blocksFromJson(spark, c).toDF()
      FixtureIO.writeStable(norm, s"$dir/norm")
      FixtureIO.writeStable(spark.createDataset(ScaleChain.lockupStates)(
          org.apache.spark.sql.Encoders.product[graft.near.Lockup.State])
        .toDF(), s"$dir/lockup_states")
      c
    }
    lazy val batch: Map[String, DataFrame] =
      Ingest.allTables(Ingest.blocksFromJson(spark, chain).toDF())
        .map { case (n, df) => n -> df.persist() }
    lazy val streamed: Map[String, DataFrame] =
      NearQueries.streamedWarehouse(spark, chain)

    /** The `near_scale_<sfx>` twin, reading this seed's inputs. */
    def oracle(sfx: String): String = {
      chain
      val fx = NearOracles.fixtureDir
      val sql = NearOracles.sql(s"near_scale_$sfx")
        .replace(s"$fx/scale_norm/", s"$dir/norm/")
        .replace(s"$fx/scale_lockup_states/", s"$dir/lockup_states/")
      assert(!sql.contains(fx), s"near_scale_$sfx reads other inputs")
      sql
    }
  }

  for (seed <- Seq(21L, 34L, 55L)) {
    lazy val s = new Seeded(seed)
    NearQueries.scaleViews.keys.toSeq.sorted.foreach { sfx =>
      test(s"ScaleChain seed $seed, batch path: near_scale_$sfx equals its DuckDB twin") {
        assertAgrees(
          NearQueries.hashStable(NearQueries.scaleViews(sfx)(spark, s.batch)),
          s.oracle(sfx))
      }
    }
  }

  {
    val seed = 89L
    lazy val s = new Seeded(seed)
    NearQueries.StreamedViews.foreach { sfx =>
      test(s"ScaleChain seed $seed, streaming path: near_scale_$sfx equals its DuckDB twin") {
        assertAgrees(
          NearQueries.hashStable(NearQueries.scaleViews(sfx)(spark, s.streamed)),
          s.oracle(sfx))
      }
    }
  }
}
