package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}
import graft.cdc.Transform

/** Event-id determinism/uniqueness and subject routing invariants
  * (reference internal/transformer/transformer_test.go:174-230,
  * internal/publisher/dlq.go:56-63), property-tested with ScalaCheck.
  */
class TransformSpec extends SparkSpec {
  import spark.implicits._

  test("event_id is deterministic and excludes row values (transformer.go:75-84)") {
    val df = Seq(
      ("0/16B3748", 12345L, "INSERT", "public", "users", 0L, "payload-a"),
      ("0/16B3748", 12345L, "INSERT", "public", "users", 0L, "payload-b"))
      .toDF("lsn", "txid", "op", "schema", "table", "seq", "payload")
      .select(Transform.eventId($"lsn", $"txid", $"op", $"schema", $"table", $"seq").as("id"))
    val ids = df.as[String].collect()
    assert(ids(0) == "0/16B3748:12345:INSERT:public.users:0")
    assert(ids(0) == ids(1), "row values must not influence the id")
  }

  test("event ids are unique across (lsn, txid, op, table, seq) variations") {
    val gen = Gen.listOfN(60, for {
      lsn <- Gen.choose(0L, 1L << 40)
      txid <- Gen.choose(1L, 1000000L)
      seq <- Gen.choose(0L, 100000L)
      op <- Gen.oneOf("INSERT", "UPDATE", "DELETE", "DDL")
    } yield (lsn, txid, seq, op))
    val prop = Prop.forAll(gen) { tuples =>
      val distinctKeys = tuples.distinct
      val df = distinctKeys.toDF("lsn", "txid", "seq", "op")
        .select(Transform.eventId(Transform.lsnString($"lsn"), $"txid", $"op",
          lit("public"), lit("users"), $"seq").as("id"))
      df.distinct().count() == distinctKeys.length
    }
    val res = check(Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("lsn renders as X/Y hex split of the 64-bit position") {
    val df = Seq(0L, 1L, 0xffffffffL, 0x100000000L, 0x1a2b3c4d5e6fL)
      .toDF("pos").select(Transform.lsnString($"pos").as("lsn"))
    assert(df.as[String].collect().toList ==
      List("0/0", "0/1", "0/ffffffff", "1/0", "1a2b/3c4d5e6f"))
  }

  test("sink sort key decodes the hex LSN back to the exact numeric position") {
    // round-trip property over positions whose hex width varies — the bug
    // class the numeric sort key exists to prevent ('2' > '10' as strings)
    import graft.streaming.OrderedSink
    val gen = new scala.util.Random(7)
    val positions = Seq(0L, 1L, 0xfL, 0x10L, 0xffffffffL, 0x100000000L, Long.MaxValue) ++
      Seq.fill(200)(gen.nextLong() & Long.MaxValue)
    val df = positions.toDF("pos")
      .select($"pos", OrderedSink.lsnNumeric(Transform.lsnString($"pos")).as("rt"))
    assert(df.filter($"pos" =!= $"rt").count() == 0)
    // and seq extraction from the event-id tail
    val seq = Seq(("a/b:7:INSERT:public.users:12345", 12345L))
      .toDF("event_id", "want")
      .select(OrderedSink.seqNumeric($"event_id").as("got"), $"want").head()
    assert(seq.getLong(0) == seq.getLong(1))
  }

  test("subject routing and DLQ sanitization (publisher.go:196-210, dlq.go:56-63)") {
    val df = Seq(("public", "users"), ("bad schema", "a*b>c"))
      .toDF("schema", "table")
      .select(
        Transform.subject("mydb", $"schema", $"table").as("subj"),
        Transform.dlqSubject("dlq", "mydb", $"schema", $"table").as("dlq"))
    val rows = df.collect()
    assert(rows(0).getString(0) == "cdc.mydb.public.users")
    assert(rows(0).getString(1) == "dlq.mydb.public.users")
    assert(rows(1).getString(1) == "dlq.mydb.bad_schema.a_b_c")
  }

  test("typedPayload: registry casts, absent keys and bad values go null") {
    val d = Seq(Map("a" -> "42", "b" -> "1.5", "c" -> "not-a-number"))
      .toDF("after")
    val row = d.select(Transform.typedPayload(col("after"), Seq(
      "a" -> "bigint", "b" -> "double", "c" -> "bigint",
      "missing" -> "string")): _*).head()
    assert(row.getLong(0) == 42L && row.getDouble(1) == 1.5)
    assert(row.isNullAt(2), "uncastable value degrades to null, not a throw")
    assert(row.isNullAt(3), "absent key is null")
  }

  test("operation -> event type mapping (transformer.go:61-73)") {
    val df = Seq("INSERT", "UPDATE", "DELETE", "DDL").toDF("op")
      .select(Transform.eventType($"op").as("t"))
    assert(df.as[String].collect().toList ==
      List("cdc.insert", "cdc.update", "cdc.delete", "cdc.ddl"))
  }

  /** Every operation value the wal2json and pgoutput decoders emit. */
  private val decoderOps = Seq("B", "C", "INSERT", "UPDATE", "DELETE", "DDL",
    "MESSAGE", "ABORT", "CORRUPT")

  private val lsnPositions: Seq[Long] = {
    val rnd = new scala.util.Random(20261019L)
    Seq(0L, 1L, 0xffffffffL, 0x100000000L, Long.MaxValue) ++
      Seq.fill(10000)(rnd.nextLong() & Long.MaxValue)
  }

  test("lsnString is the JDK's X/Y hex rendering: fixed edges + 10k seeded positions") {
    val got = lsnPositions.toDF("pos")
      .select($"pos", Transform.lsnString($"pos").as("lsn"))
      .as[(Long, String)].collect().toMap
    lsnPositions.foreach { p =>
      val want = java.lang.Long.toHexString(p >>> 32) + "/" +
        java.lang.Long.toHexString(p & 0xffffffffL)
      assert(got(p) == want, s"position $p")
    }
  }

  test("eventType is cdc.<op lower-cased in the root locale> for every decoder op") {
    val got = decoderOps.toDF("op")
      .select($"op", Transform.eventType($"op").as("t"))
      .as[(String, String)].collect().toMap
    decoderOps.foreach { op =>
      assert(got(op) == "cdc." + op.toLowerCase(java.util.Locale.ROOT), op)
    }
  }

  test("SQL graft_lsn / graft_event_type render exactly like the Column API") {
    graft.functions.GraftFunctions.register(spark)
    val lsns = lsnPositions.toDF("pos")
      .select(Transform.lsnString($"pos").as("col"),
        expr("graft_lsn(pos)").as("sql"))
    assert(lsns.filter(!($"col" <=> $"sql")).count() == 0)
    val types = decoderOps.toDF("op")
      .select(Transform.eventType($"op").as("col"),
        expr("graft_event_type(op)").as("sql"))
    assert(types.filter(!($"col" <=> $"sql")).count() == 0)
  }

  test("no ICU case mapping on the row path: no Lower/Upper/InitCap in either pipeline") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, InitCap, Lower, Upper}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CdcStream
    implicit val sctx = spark.sqlContext
    def caseMaps(plan: LogicalPlan): Seq[Expression] =
      plan.flatMap(_.expressions).flatMap(_.collect {
        case e @ (_: Lower | _: Upper | _: InitCap) => e
      })
    val text = MemoryStream[(Long, String)].toDF().toDF("wal_start", "data")
    def decoded(policy: String) = PgSlot.stream(spark,
      new graft.sources.InMemoryReplicationServer, corruptPolicy = policy)
    // the detector sees a case mapping when there is one
    assert(caseMaps(text.select(lower($"data")).queryExecution.analyzed).nonEmpty)
    val plans = Seq(
      "wal2json" -> CdcStream.pipeline(spark, text, "testdb"),
      "pgoutput" -> CdcStream.pipelinePgOutput(spark, decoded("crash"), "testdb"),
      "pgoutput dlq" -> CdcStream.pipelinePgOutput(spark, decoded("dlq"), "testdb"))
    plans.foreach { case (name, df) =>
      val found = caseMaps(df.queryExecution.analyzed)
      assert(found.isEmpty, s"$name: $found")
    }
  }
}
