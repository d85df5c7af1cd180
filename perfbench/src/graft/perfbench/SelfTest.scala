package graft.perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.SparkSession

/** Tests of the benchmark's own arithmetic and bookkeeping, on tiny
  * generated inputs. Run with `python3 perfbench/selftest.py`; exits
  * non-zero when a test fails. */
object SelfTest {
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: AssertionError => failed += 1; println(s"FAIL $name: ${e.getMessage}")
      case NonFatal(e) => failed += 1; println(s"FAIL $name: $e")
    }

  private def expect[A](got: A, want: A, what: String = ""): Unit =
    assert(got == want, s"$what got $got, want $want")

  private def span(id: Int, parent: Int, depth: Int, start: Double, end: Double) =
    Span(id, parent, depth, s"s$id", "m", "l", 0, start, end)

  def main(args: Array[String]): Unit = {
    test("median of odd, even and unsorted samples") {
      expect(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      expect(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
      expect(Stats.median(Seq(7.0)), 7.0)
    }

    test("tail percentile needs ten samples beyond it") {
      val xs = (1 to 200).map(_.toDouble)
      expect(Stats.tail(xs, 90), Some(180.0), "p90 of 1..200")
      expect(Stats.tail(xs, 99), None, "p99 of 1..200 has 2 beyond")
      expect(Stats.tail((1 to 20).map(_.toDouble), 50), Some(10.0), "p50 of 1..20")
      expect(Stats.tail((1 to 19).map(_.toDouble), 50), None, "p50 of 1..19 has 9 beyond")
      expect(Stats.tail(Seq.fill(50)(1.0), 50), None, "ties are not beyond")
    }

    test("self time subtracts the union of clipped children") {
      val parent = span(0, -1, 0, 0, 100)
      val kids = Seq(span(1, 0, 1, 10, 30), span(2, 0, 1, 20, 50), span(3, 0, 1, 90, 120))
      expect(Trace.selfMs(parent, kids), 50.0)
      expect(Trace.selfMs(parent, Nil), 100.0)
    }

    test("a job belongs to the deepest span open at its start") {
      val spans = Seq(span(0, -1, 0, 0, 100), span(1, 0, 1, 10.2, 15.7),
        span(2, 0, 1, 15.8, 40), span(3, 2, 2, 20, 30))
      def at(t: Long) = Trace.attribute(spans, t).map(_.id)
      expect(at(12), Some(1))
      expect(at(15), Some(1), "millisecond shared by two siblings goes to the larger share")
      expect(at(25), Some(3))
      expect(at(35), Some(2))
      expect(at(50), Some(0))
      expect(at(200), None)
    }

    test("follower graph: a seeded power-law set") {
      val g = Gen.followerGraph(7, 3000, 6, followBack = 0.14)
      expect(g.codes.toSeq, Gen.followerGraph(7, 3000, 6, followBack = 0.14).codes.toSeq, "same seed")
      assert(g.codes.toSeq != Gen.followerGraph(8, 3000, 6, followBack = 0.14).codes.toSeq, "seed ignored")
      assert(g.codes.sliding(2).forall { case Array(a, b) => a < b; case _ => true }, "not distinct")
      assert((0 until g.edges).forall(i => g.src(i) != g.dst(i)), "self-loop")
      val indeg = g.codes.groupBy(_ % g.n).map { case (k, v) => k -> v.length }
      assert(indeg.getOrElse(0L, 0) > 20 * g.edges / g.n, s"no hub at id 0: ${indeg.get(0L)}")
      assert(g.reciprocalShare > 0.15 && g.reciprocalShare < 0.25, s"reciprocal ${g.reciprocalShare}")
      expect(g.census(1000), (0 until g.edges).count(i => g.src(i) < 1000 && g.dst(i) < 1000).toLong)
    }

    test("written files: new and changed files only") {
      val dir = java.nio.file.Files.createTempDirectory("selftest").toFile
      try {
        val a = new File(dir, "a"); java.nio.file.Files.writeString(a.toPath, "xx")
        val before = Files.snapshot(dir)
        java.nio.file.Files.writeString(new File(dir, "b").toPath, "yyy")
        expect(Files.written(before, Files.snapshot(dir)), (1, 3L))
      } finally Files.delete(dir)
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._

      test("digest is independent of row order and sees a changed row") {
        val rows = (1L to 500L).map(i => (i, i * i % 97, s"r$i", i / 7.0))
        def summary(df: org.apache.spark.sql.DataFrame) = {
          val (o, get) = Stats.observed(df)
          o.write.format("noop").mode("overwrite").save()
          get()
        }
        val a = summary(rows.toDF("id", "v", "s", "d"))
        val b = summary(rows.reverse.toDF("id", "v", "s", "d").repartition(3))
        val c = summary(rows.updated(10, (11L, 0L, "r11", 11 / 7.0)).toDF("id", "v", "s", "d"))
        expect(a.key, b.key, "reordered")
        assert(a.key != c.key, "changed row kept the digest")
        expect(a.rows, 500L)
        expect(a.sum("v"), BigDecimal(rows.map(_._2).sum))
      }

      test("jobs from another thread are attributed to the span open on the calling thread") {
        val tracer = new Tracer
        val listener = new JobListener
        spark.sparkContext.addSparkListener(listener)
        tracer.span("a", "m", "construct", 0)(spark.range(10).count())
        tracer.span("b", "m", "exec", 0) {
          val t = new Thread(() => spark.range(10).count())
          t.start(); t.join()
        }
        ListenerDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val by = Trace.jobsBySpan(tracer.spans.toSeq, listener.snapshot)
        val inA = by.getOrElse(0, Nil).size
        assert(inA > 0, "no job in a")
        expect(by.getOrElse(1, Nil).size, inA, "jobs in b")
        expect(inA * 2, listener.snapshot.size, "jobs outside both spans")
        assert(listener.snapshot.forall(_.tasks > 0), "tasks not counted")
      }

      test("checkpoints are counted once, in the job that fills them") {
        val listener = new JobListener
        spark.sparkContext.addSparkListener(listener)
        val df = spark.range(100).localCheckpoint()
        df.count()
        ListenerDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        expect(listener.snapshot.map(_.checkpoints).sum, 1)
      }
    } finally spark.stop()

    println(if (failed == 0) "selftest passed" else s"selftest: $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
