package graft

import graft.planner.CompassSession
import graft.plans.JoinGraphExtractor
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.Random

/** Random-join differential: fixed-seed queries over six small parquet
  * tables run plain and through [[CompassSession]], and their rows must
  * match as multisets. The queries join 3–6 instances (self-joins
  * included) on key–FK and non-key equalities, `<=>`, CAST-wrapped and
  * implicitly cast keys, add single-instance filters, cross-instance
  * residuals and a correlated EXISTS, sometimes sit under a LEFT JOIN,
  * and end in count, sum, group-by, count-distinct or `SELECT *`.
  *
  * Every query that has an extractable region of 3+ instances must take
  * the COMPASS path: a fallback to the vanilla plan (e.g. a splice that
  * drops an attribute the plan around the region reads) fails the case.
  * Joins connect each new instance through a foreign key into its unique
  * `id`, with at most one fan-out edge per query, so every intermediate
  * stays small.
  */
class CompassDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sizes = Seq(40, 90, 160, 260, 400, 600)
  private val Queries = 50
  private val QueryTimeout = 60.seconds

  /** `id` unique; `k1` (INT) and `k2` (BIGINT) reference ids 0..39,
    * which every table has; `g`, `s` are non-key columns. 8% NULLs in
    * each nullable column.
    */
  private def writeTables(dir: java.nio.file.Path): Unit = {
    import spark.implicits._
    val rnd = new Random(17)
    def orNull[A](a: A): Option[A] = if (rnd.nextDouble() < 0.08) None else Some(a)
    sizes.zipWithIndex.foreach { case (n, t) =>
      (0 until n).map { id =>
        (id.toLong, orNull(rnd.nextInt(40)), orNull(rnd.nextInt(40).toLong),
          orNull(rnd.nextInt(8)), rnd.nextInt(1000).toLong, orNull(s"s${rnd.nextInt(12)}"))
      }.toDF("id", "k1", "k2", "g", "v", "s")
        .coalesce(1).write.parquet(dir.resolve(s"rj$t").toString)
      spark.read.parquet(dir.resolve(s"rj$t").toString).createOrReplaceTempView(s"rj$t")
    }
  }

  private def query(rnd: Random): String = {
    val n = 3 + rnd.nextInt(4)
    val tables = Seq.fill(n)(rnd.nextInt(sizes.size))
    def a(i: Int) = s"a$i"
    def pick(xs: String*) = xs(rnd.nextInt(xs.size))
    var fanOut = false
    val joins = (1 until n).map { i =>
      val j = rnd.nextInt(i)
      val connect = rnd.nextInt(20) match {
        case r if r < 9 => s"${a(j)}.k2 = ${a(i)}.id"
        case r if r < 11 && !fanOut && sizes(tables(i)) <= 160 =>
          fanOut = true
          s"${a(i)}.k2 = ${a(j)}.id"
        case r if r < 14 => s"${a(j)}.k2 <=> ${a(i)}.id"
        case r if r < 17 => s"CAST(${a(j)}.k1 AS BIGINT) = ${a(i)}.id"
        case _ => s"${a(j)}.k1 = ${a(i)}.id"
      }
      val extra =
        if (rnd.nextDouble() < 0.35)
          Seq(pick(s"${a(i)}.g = ${a(j)}.g", s"${a(i)}.s = ${a(j)}.s", s"${a(i)}.g <=> ${a(j)}.g"))
        else Nil
      s"JOIN rj${tables(i)} ${a(i)} ON " + (connect +: extra).mkString(" AND ")
    }
    val filters = (0 until n).filter(_ => rnd.nextBoolean()).map { i =>
      pick(s"${a(i)}.v < ${100 + rnd.nextInt(800)}", s"${a(i)}.g IN (0, 1, 2)",
        s"${a(i)}.v % 3 = 0", s"${a(i)}.s <> 's3'", s"${a(i)}.k1 IS NULL",
        s"${a(i)}.k2 IS NOT NULL")
    }
    def two() = { val i = rnd.nextInt(n); (i, (i + 1 + rnd.nextInt(n - 1)) % n) }
    val residual = if (rnd.nextDouble() < 0.3) {
      val (i, j) = two()
      Seq(pick(s"${a(i)}.v + ${a(j)}.v > ${rnd.nextInt(1200)}", s"${a(i)}.v < ${a(j)}.v"))
    } else Nil
    val exists = if (rnd.nextDouble() < 0.15)
      Seq(s"EXISTS (SELECT 1 FROM rj2 e WHERE e.id = ${a(rnd.nextInt(n))}.k2 AND e.v > 300)")
    else Nil
    val (x, y) = two()
    val from = (s"FROM rj${tables.head} a0" +: joins).mkString(" ")
    val shape = rnd.nextInt(6)
    val left = if (shape == 4) s" LEFT JOIN rj5 l ON l.id = ${a(x)}.k2" else ""
    val where = filters ++ residual ++ exists
    val body = from + left + (if (where.isEmpty) "" else where.mkString(" WHERE ", " AND ", ""))
    shape match {
      case 0 => s"SELECT count(*) AS n $body"
      case 1 => s"SELECT sum(${a(x)}.v) AS s, count(*) AS n $body"
      case 2 => s"SELECT ${a(x)}.g AS g, count(*) AS n, sum(${a(y)}.v) AS s $body GROUP BY ${a(x)}.g"
      case 3 => s"SELECT count(DISTINCT ${a(x)}.k1) AS d $body"
      case 4 => s"SELECT count(*) AS n, sum(l.v) AS s $body"
      case _ => s"SELECT * $body"
    }
  }

  private def multiset(rows: Array[org.apache.spark.sql.Row]): Map[Seq[Any], Int] =
    rows.toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** `body` in its own job group, cancelled past the per-query timeout. */
  private def bounded[T](tag: String)(body: => T): T = {
    val ec = ExecutionContext.global
    val f = Future {
      spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = true)
      try body finally spark.sparkContext.clearJobGroup()
    }(ec)
    try Await.result(f, QueryTimeout)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        spark.sparkContext.cancelJobGroup(tag)
        throw e
    }
  }

  test("random join queries: COMPASS rows equal plain Spark's, no fallback") {
    TempDirs.withTempDir("graft-random-join") { dir =>
      writeTables(dir)
      try {
        val cs = new CompassSession(spark)
        val rnd = new Random(20261020L)
        var (took, skipped, kept, reused) = (0, 0, 0, 0)
        val (_, work) = Work.measure(spark)((0 until Queries).foreach { q =>
          val text = query(rnd)
          val (plain, viaCompass, eligible, path) = bounded(s"random-join-$q") {
            val eligible = JoinGraphExtractor.extract(spark.sql(text).queryExecution.analyzed)
              .exists(_._1.instances.size >= 3)
            val out = cs.sql(text)
            (spark.sql(text).collect(), out.collect(), eligible, cs.lastPlan)
          }
          if (multiset(viaCompass) != multiset(plain))
            fail(s"query $q differs (${viaCompass.length} rows, plain ${plain.length}): $text")
          assert(path.isDefined || !eligible, s"query $q fell back to the vanilla plan: $text")
          if (path.isDefined) took += 1 else skipped += 1
          if (path.exists(_.keptRows.nonEmpty)) kept += 1
          if (path.exists(_.reusedRows.nonEmpty)) reused += 1
        })
        assert(work.records.compassFallbacks.isEmpty, work.records.compassFallbacks)
        info(s"$took queries took the COMPASS path ($kept with kept rows, $reused reusing " +
          s"an earlier query's), $skipped had no region")
        assert(took >= Queries / 2, s"only $took of $Queries queries took the COMPASS path")
        assert(kept >= 1, "no query spliced the survivors its sketch job kept")
        cs.close()
      } finally (0 until sizes.size).foreach(t => spark.catalog.dropTempView(s"rj$t"))
    }
  }
}
