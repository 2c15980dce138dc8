package graft

import org.apache.spark.sql.SparkSession

import graft.ops.{Dedup, Graph, SessionConf}

/** The restore contract of [[SessionConf]]: a scope hands the session
  * back with exactly the explicit settings it had (`conf.getAll`), and
  * the library entry points that narrow the session leave no key behind.
  * Every case runs on a fresh session (`newSession` shares the context,
  * not the conf), so no other suite's settings mask a leak.
  */
class SessionConfSpec extends SparkSpec {

  private val Shuffle = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"

  private def fresh(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Shuffle, "4")
    s
  }

  /** `body` leaves `s`'s explicit settings exactly as it found them. */
  private def assertNoLeak(s: SparkSession)(body: => Unit): Unit = {
    val before = s.conf.getAll
    body
    val after = s.conf.getAll
    val added = after.toSet -- before.toSet
    val lost = before.toSet -- after.toSet
    assert(added.isEmpty && lost.isEmpty, s"added or changed: $added, lost: $lost")
  }

  test("scoped: a previously unset key is unset again, not set to its default") {
    val s = fresh()
    // getOption answers with the default, so it cannot tell unset from set
    assert(s.conf.getOption(Aqe).contains("true") && !s.conf.getAll.contains(Aqe))
    assertNoLeak(s) {
      SessionConf.scoped(s, Aqe -> "false", Provider -> "x.Y") {
        assert(s.conf.get(Aqe) == "false" && s.conf.get(Provider) == "x.Y")
      }
    }
    assert(!s.conf.getAll.contains(Aqe) && !s.conf.getAll.contains(Provider))
  }

  test("scoped: an explicit key gets its own value back") {
    val s = fresh()
    s.conf.set(Aqe, "true")
    SessionConf.scoped(s, Aqe -> "false", Shuffle -> "1") {
      assert(s.conf.get(Aqe) == "false" && s.conf.get(Shuffle) == "1")
    }
    assert(s.conf.getAll.get(Aqe).contains("true"))
    assert(s.conf.getAll.get(Shuffle).contains("4"))
  }

  test("scoped: nested scopes unwind in order") {
    val s = fresh()
    assertNoLeak(s) {
      SessionConf.scoped(s, "graft.test.a" -> "1") {
        SessionConf.scoped(s, "graft.test.a" -> "2", "graft.test.b" -> "x") {
          assert(s.conf.get("graft.test.a") == "2")
          assert(s.conf.get("graft.test.b") == "x")
        }
        assert(s.conf.get("graft.test.a") == "1")
        assert(!s.conf.getAll.contains("graft.test.b"))
      }
    }
    assert(!s.conf.getAll.contains("graft.test.a"))
  }

  test("scoped: a throwing body still restores") {
    val s = fresh()
    assertNoLeak(s) {
      val e = intercept[IllegalStateException] {
        SessionConf.scoped(s, Shuffle -> "1", Aqe -> "false") {
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
    }
  }

  test("narrowed: below the session width the scope narrows and turns AQE off") {
    val s = fresh()
    assertNoLeak(s) {
      SessionConf.narrowed(s, 5000000L, 2000000L) {
        assert(s.conf.get(Shuffle) == "3")
        assert(s.conf.get(Aqe) == "false")
      }
    }
  }

  test("narrowed: at the session width AQE is left untouched") {
    val s = fresh()
    assertNoLeak(s) {
      SessionConf.narrowed(s, 100000000L, 2000000L) {
        assert(s.conf.get(Shuffle) == "4")
        assert(!s.conf.getAll.contains(Aqe))
      }
    }
  }

  test("Dedup.components and componentsStar leave the session conf as they found it") {
    val s = fresh()
    import s.implicits._
    val pairs = Seq(1L -> 2L, 2L -> 3L, 7L -> 8L).toDF("id_a", "id_b")
    val want = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
    assertNoLeak(s) {
      // the distributed loop is the path that narrows the session
      SessionConf.scoped(s, "graft.components.localMax" -> "0") {
        assert(Dedup.components(pairs).as[(Long, Long)].collect().toSet == want)
        assert(Dedup.componentsStar(pairs).as[(Long, Long)].collect().toSet == want)
      }
    }
  }

  test("Graph.pageRank leaves the session conf as it found it") {
    val s = fresh()
    import s.implicits._
    val edges = Seq(1L -> 2L, 2L -> 1L).toDF("src", "dst")
    assertNoLeak(s) {
      val r = Graph.pageRank(edges, iters = 3, scale = 1000L)
        .collect().map(row => row.getAs[Long]("r")).toSet
      assert(r == Set(1000L))
    }
  }

  test("l114_stream_funnel leaves the session conf as it found it") {
    val s = fresh()
    // the events reader's one session write happens before the snapshot
    graft.queries.Q.t(s, sf0001, "events")
    assertNoLeak(s) {
      val out = graft.queries.LlmQueries.defs("l114_stream_funnel").fn(s, sf0001)
      assert(out.collect().nonEmpty)
    }
  }
}
