package graft

import graft.core.{FactDb, FactStore, Schema}
import graft.transact.Transactor
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** Mirrors the reference doc-store scenario
  * (query_test.clj:150-175 / 520+): :friends is declared
  * cardinality/many via schema FACTS, so both of Alice's friends
  * survive snapshot resolution while an undeclared attr collapses to
  * latest-wins. */
class SchemaSpec extends SparkSpec {

  test("cardinality from schema facts controls snapshot resolution") {
    val sess = Transactor.emptySession(spark)
    sess.transact(Seq(
      Transactor.MapForm(Seq(
        Schema.SchemaAttr -> "friends",
        Schema.CardinalityAttr -> Schema.CardinalityMany)),
      Transactor.MapForm(Seq("name" -> "Bob"), tempId = Some("bob")),
      Transactor.MapForm(Seq("name" -> "Carl"), tempId = Some("carl"))))
    val r2 = sess.transact(Seq(
      Transactor.MapForm(Seq("name" -> "Alice"), tempId = Some("alice"))))
    val alice = r2.tempIds("alice")
    val bobCarl = sess.db.snapshot()
      .filter(col("a") === "name" && col("vstr").isin("Bob", "Carl"))
      .select("e").collect().map(_.getLong(0)).sorted
    sess.transact(Seq(
      Transactor.Add(alice, "friends", sess.EntityRef(bobCarl(0))),
      Transactor.Add(alice, "friends", sess.EntityRef(bobCarl(1))),
      Transactor.Add(alice, "mood", "happy")))
    sess.transact(Seq(Transactor.Add(alice, "mood", "tired")))

    val schemaDb = Schema.applySchema(sess.db)
    assert(schemaDb.cardMany.contains("friends"))
    val snap = schemaDb.snapshot()
    // friends: cardinality-many -> both kept
    assert(snap.filter(col("a") === "friends").count() === 2)
    // mood: undeclared -> latest wins
    val moods = snap.filter(col("a") === "mood").select("vstr").collect()
    assert(moods.map(_.getString(0)).toSeq === Seq("tired"))
  }

  test("retracted cardinality declaration stops applying (schema reads resolved snapshot)") {
    val sess = Transactor.emptySession(spark)
    val r1 = sess.transact(Seq(
      Transactor.MapForm(Seq(
        Schema.SchemaAttr -> "nicknames",
        Schema.CardinalityAttr -> Schema.CardinalityMany), tempId = Some("sch"))))
    assert(Schema.cardManyAttrs(sess.db) === Set("nicknames"))
    // retract the cardinality/many declaration — the attribute reverts
    // to cardinality-one from here on
    sess.transact(Seq(Transactor.Retract(
      r1.tempIds("sch"), Schema.CardinalityAttr, Schema.CardinalityMany)))
    assert(Schema.cardManyAttrs(sess.db) === Set.empty)
    // as-of the declaring tx it still applies (time travel)
    assert(Schema.cardManyAttrs(sess.db, asOfTx = r1.txId) === Set("nicknames"))
  }

  /** A raw log of (e, a, vstr, tx, added) facts on string-typed attributes. */
  private def logOf(facts: Seq[(Long, String, String, Long, Boolean)],
                    cardMany: Set[String] = Set.empty, versioned: Boolean = true): FactDb =
    FactDb(spark.createDataFrame(
      java.util.Arrays.asList(facts.map { case (e, a, v, tx, added) =>
        Row(e, a, "s", v, null, null, null, null, tx, added) }: _*),
      FactStore.factSchema),
      Map(Schema.SchemaAttr -> "vstr", Schema.CardinalityAttr -> "vstr", "name" -> "vstr"),
      cardMany, versioned)

  test("Graft.db resolves schema cardinality on the driver: no Spark job per read") {
    import Schema._
    val base = logOf(Seq((1L, SchemaAttr, "tags", 1L, true),
      (1L, CardinalityAttr, CardinalityMany, 1L, true), (2L, "name", "x", 1L, true)))
    var conn: Graft = null
    assert(jobsDuring { conn = Graft.over(spark, base, 2L, 100L) } === 0,
      "Graft.over must not collect the schema facts")
    assert(conn.db.cardMany === Set("tags")) // the first read collects them
    var db: FactDb = null
    assert(jobsDuring { db = conn.db } === 0, "second conn.db ran a Spark job")
    assert(db.cardMany === Set("tags"))
    // a transaction without schema facts
    conn.transact(Seq(Transactor.Add(2L, "name", "y")))
    assert(jobsDuring { db = conn.db } === 0, "conn.db after a plain transact ran a job")
    assert(db.cardMany === Set("tags"))
    // read-your-schema-write: the declaration applies at once, still with no job
    val declared = conn.transact(Seq(Transactor.MapForm(Seq(
      SchemaAttr -> "nicknames", CardinalityAttr -> CardinalityMany), tempId = Some("sch"))))
    assert(jobsDuring { db = conn.db } === 0, "conn.db after a schema transact ran a job")
    assert(db.cardMany === Set("tags", "nicknames"))
    // retracting the declaration drops the attribute; as-of keeps it
    conn.transact(Seq(Transactor.Retract(
      declared.tempIds("sch"), CardinalityAttr, CardinalityMany)))
    assert(jobsDuring { db = conn.db } === 0)
    assert(db.cardMany === Set("tags"))
    assert(jobsDuring { db = conn.asOf(declared.txId).db } === 0)
    assert(db.cardMany === Set("tags", "nicknames"))
    // an empty connection has no log to collect from
    val fresh = Graft.open(spark)
    assert(jobsDuring { db = fresh.db } === 0)
    assert(db.cardMany === Set.empty)
  }

  /** The Spark derivation `Graft.db` used to run on every read: the
    * resolved snapshot, schema entities joined to the cardinality/many
    * ones, distinct. Kept here as the oracle of the driver-side one. */
  private def sparkCardMany(db: FactDb, asOfTx: Long): Set[String] = {
    val log = db.snapshot(asOfTx)
    val schemaEnts = log.filter(col("a") === Schema.SchemaAttr)
      .select(col("e"), col("vstr").as("attr"))
    val manyEnts = log.filter(col("a") === Schema.CardinalityAttr &&
        col("vstr") === Schema.CardinalityMany)
      .select(col("e"))
    db.cardMany ++ schemaEnts.join(manyEnts, "e").select("attr")
      .distinct().collect().map(_.getString(0)).toSet
  }

  /** A generated schema history: `txs` of (e, a, v, added) ops; the
    * first `baseTxs` are in the log `Graft.over` opens, the rest go
    * through `transact`, after a read when `readFirst` (so the session
    * extends a collected list) or before any read (so the first read
    * collects them). */
  private case class SchemaHistory(txs: Vector[Vector[(Long, String, String, Boolean)]],
                                   baseTxs: Int, baseCardMany: Set[String],
                                   versioned: Boolean, readFirst: Boolean)

  private val genHistory: Gen[SchemaHistory] = {
    import Schema._
    val op = for {
      e <- Gen.choose(1L, 3L)
      a <- Gen.oneOf(SchemaAttr, CardinalityAttr)
      v <- if (a == SchemaAttr) Gen.oneOf("tags", "nicks", "pets")
           else Gen.frequency(3 -> Gen.const(CardinalityMany), 1 -> Gen.const("cardinality/one"))
      added <- Gen.frequency(3 -> true, 2 -> false)
    } yield (e, a, v, added)
    // some txs also carry the opposite op on the same value: a same-tx
    // retract+add tie
    val tx = for {
      ops <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, op))
      tie <- Gen.oneOf(true, false)
    } yield (if (tie) ops :+ ops.head.copy(_4 = !ops.head._4) else ops).toVector
    for {
      txs <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, tx))
      versioned <- Gen.oneOf(true, false)
      // an unversioned log stays unversioned only while nothing is transacted
      baseTxs <- if (versioned) Gen.choose(0, txs.size) else Gen.const(txs.size)
      base <- Gen.atLeastOne("tags", SchemaAttr, CardinalityAttr)
      readFirst <- Gen.oneOf(true, false)
    } yield SchemaHistory(txs.toVector, baseTxs, base.toSet, versioned, readFirst)
  }

  test("property: conn.asOf(t).db.cardMany equals the Spark schema derivation at every t") {
    val prop = Prop.forAllNoShrink(genHistory) { h =>
      val base = logOf(
        h.txs.take(h.baseTxs).zipWithIndex.flatMap { case (ops, i) =>
          ops.map { case (e, a, v, added) => (e, a, v, i + 1L, added) } },
        h.baseCardMany, h.versioned)
      val conn = Graft.over(spark, base, h.baseTxs + 1L, 100L)
      if (h.readFirst) conn.db: Unit
      h.txs.drop(h.baseTxs).foreach(ops => conn.transact(ops.map {
        case (e, a, v, true) => Transactor.Add(e, a, v)
        case (e, a, v, false) => Transactor.Retract(e, a, v)
      }))
      val raw = conn.session.db
      Prop.all((0L to h.txs.size + 1L).map { t =>
        val (got, want) = (conn.asOf(t).db.cardMany, sparkCardMany(raw, t))
        (got == want) :| s"as of tx $t: driver $got, Spark $want"
      } :+ {
        val (got, want) = (conn.db.cardMany, sparkCardMany(raw, Long.MaxValue))
        (got == want) :| s"latest: driver $got, Spark $want"
      }: _*)
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(25).withWorkers(1)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("getSchemas returns all schema props per attribute (reference schema_test)") {
    val sess = Transactor.emptySession(spark)
    sess.transact(Seq(
      Transactor.MapForm(Seq(
        Schema.SchemaAttr -> "foo",
        Schema.CardinalityAttr -> Schema.CardinalityMany)),
      Transactor.MapForm(Seq(
        Schema.SchemaAttr -> "bar",
        "unifydb/unique" -> "unique/upsert"))))
    val schemas = Schema.getSchemas(sess.db, Seq("foo", "bar", "baz"))
    assert(schemas("foo") === Map("unifydb/schema" -> "foo",
      "unifydb/cardinality" -> "cardinality/many"))
    assert(schemas("bar") === Map("unifydb/schema" -> "bar",
      "unifydb/unique" -> "unique/upsert"))
    assert(!schemas.contains("baz"))
  }

  test("user transform hashes credentials; report redacts sensitive attrs") {
    val sess = Transactor.emptySession(spark)
    val report = sess.transact(Seq(Transactor.MapForm(Seq(
      "unifydb/username" -> "ben",
      "unifydb/password" -> "hunter2"), tempId = Some("u"))))
    // raw password never reaches the log
    assert(sess.db.log.filter(col("a") === "unifydb/password").count() === 0)
    // derived credentials ARE in the log...
    assert(sess.db.log.filter(col("a") === "unifydb/stored-key").count() === 1)
    assert(sess.db.log.filter(col("a") === "unifydb/salt").count() === 1)
    // ...but redacted from the report (reference filter-auth-facts)
    assert(!report.facts.exists(f => Transactor.SensitiveAttrs.contains(f._2)))
    assert(report.facts.exists(_._2 == "unifydb/username"))
  }

  test("mixed-type attribute ingest is rejected with a clear error") {
    // graft types each attribute to ONE value slot — the deliberate
    // trade (SURVEY §4) vs the reference's cc-cmp heterogeneous
    // ordering (comparison.clj:91). Retyping must fail loudly, not
    // silently orphan the attribute's existing facts.
    val session = Transactor.emptySession(spark, clock = () => 1000L)
    session.transact(Seq(Transactor.Add("e1", "color", "red")))
    // across transactions: string attr, long value
    val e = intercept[IllegalArgumentException] {
      session.transact(Seq(Transactor.Add("e2", "color", 7L)))
    }
    assert(e.getMessage.contains("color"), e.getMessage)
    assert(e.getMessage.contains("vstr"), e.getMessage)
    assert(e.getMessage.contains("vlong"), e.getMessage)
    // within one transaction: two slots for the same attr
    val e2 = intercept[IllegalArgumentException] {
      session.transact(Seq(
        Transactor.Add("e3", "size", 1L), Transactor.Add("e4", "size", 2.5)))
    }
    assert(e2.getMessage.contains("size"), e2.getMessage)
    // the failed transactions left no facts behind
    assert(session.db.log.filter(col("a") === "color").count() === 1)
    assert(session.db.log.filter(col("a") === "size").count() === 0)
  }
}
