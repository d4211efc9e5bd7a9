package graft.transact

import graft.core.{FactDb, FactStore, LocalFacts, Schema}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Transaction processing — the Spark-native re-expression of
  * /root/reference/src/unifydb/transact.clj.
  *
  * Semantics kept from the reference:
  *  - ops are add/retract 4-tuples (`process-tx-data`, transact.clj:57);
  *  - map forms expand to add-ops, nested maps/seq-of-maps become
  *    sub-entities with generated ids (`map-form->add-forms`,
  *    transact.clj:23-47);
  *  - string entity ids are temp ids resolved to fresh database ids
  *    (`gen-temp-ids`/`resolve-temp-ids`, transact.clj:70-97);
  *  - every transaction writes a tx entity carrying `txInstant`
  *    (`make-new-tx-facts`, transact.clj:17-21) and returns a report
  *    with the resolved tempids + tx facts.
  *
  * Differences (deliberate, Spark-first): tx ids are monotone longs
  * handed out by the single transactor (the reference serializes
  * through one queue consumer — same guarantee); fact batches append
  * to the DataFrame log (at scale: appended parquet files in a
  * tx-ordered directory layout, compacted periodically). Bulk ingest
  * bypasses this path via FactStore.melt.
  */
object Transactor {
  sealed trait TxStmt
  final case class Add(e: Any, a: String, v: Any) extends TxStmt
  final case class Retract(e: Any, a: String, v: Any) extends TxStmt
  /** Nested-map transaction form; values may be primitives, MapForm, or
    * Seq[MapForm]. */
  final case class MapForm(attrs: Seq[(String, Any)],
                           tempId: Option[String] = None) extends TxStmt

  final case class TxReport(txId: Long, tempIds: Map[String, Long],
                            facts: Seq[(Any, String, Any, Long, Boolean)])

  /** Pre-expansion rewrite of incoming statements (reference
    * transforms.clj — applied before id resolution). */
  type Transform = Seq[TxStmt] => Seq[TxStmt]
  /** Post-commit rewrite of the outgoing report (reference filters.clj
    * — the log keeps everything; only the REPORT is filtered). */
  type ReportFilter = TxReport => TxReport

  /** Sensitive auth attributes never echoed in tx-reports (reference
    * filter-auth-facts, transact/filters.clj:14-25). */
  val SensitiveAttrs: Set[String] =
    Set("unifydb/salt", "unifydb/i", "unifydb/server-key", "unifydb/stored-key")

  val redactSensitive: ReportFilter = r =>
    r.copy(facts = r.facts.filterNot(f => SensitiveAttrs.contains(f._2)))

  /** PBKDF2 iteration count stored alongside credentials (and actually
    * applied in the derivation — the stored `unifydb/i` must match what
    * a verifier would run). */
  val Pbkdf2Iterations = 4096

  private def randomSalt(): String = {
    val bytes = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(bytes)
    bytes.map("%02x".format(_)).mkString
  }

  /** User-creation transform (reference new-user-transform,
    * transact/transforms.clj:25-38): a username+password pair on one
    * entity becomes derived credential facts; the raw password never
    * reaches the log. Key derivation is PBKDF2-HMAC-SHA256 with the
    * advertised `unifydb/i` iteration count over a random 128-bit salt
    * (`salt` is injectable for deterministic tests). */
  def newUserTransform(salt: String => String = _ => randomSalt()): Transform = {
    stmts =>
      val byEntity = stmts.collect { case a @ Add(_, _, _) => a }.groupBy(_.e)
      val userEnts = byEntity.collect {
        case (e, adds) if adds.exists(_.a == "unifydb/username") &&
          adds.exists(_.a == "unifydb/password") => e
      }.toSet
      if (userEnts.isEmpty) stmts
      else stmts.flatMap {
        case Add(e, "unifydb/password", pw: String) if userEnts(e) =>
          val username = byEntity(e).find(_.a == "unifydb/username").get.v.toString
          val s = salt(username)
          val spec = new javax.crypto.spec.PBEKeySpec(
            pw.toCharArray, s.getBytes("UTF-8"), Pbkdf2Iterations, 256)
          val key = javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
            .generateSecret(spec).getEncoded.map("%02x".format(_)).mkString
          Seq(Add(e, "unifydb/salt", s), Add(e, "unifydb/stored-key", key),
            Add(e, "unifydb/i", Pbkdf2Iterations.toLong))
        case other => Seq(other)
      }
  }

  /** A connection's fact log and the schema facts collected from it
    * (`None` until a read first asks for them). */
  private final case class Logged(db: FactDb, schema: Option[Vector[LocalFacts.Fact]])

  final class Session(val spark: SparkSession, db0: FactDb,
                      private var nextTx: Long, private var nextId: Long,
                      clock: () => Long = () => System.currentTimeMillis(),
                      transforms: Seq[Transform] = Seq(newUserTransform()),
                      reportFilters: Seq[ReportFilter] = Seq(redactSensitive),
                      schema0: Option[Vector[LocalFacts.Fact]] = None) {

    // the log and its schema facts change in ONE assignment, so a reader
    // never pairs a new log with a stale schema list
    @volatile private var state = Logged(db0, schema0)

    def db: FactDb = state.db

    /** The current log with every version of its schema facts
      * ([[Schema.facts]]): collected once, on the first call, then kept
      * current by [[transact]] from the batches it appends. */
    def dbWithSchemaFacts: (FactDb, Vector[LocalFacts.Fact]) = {
      val s = state
      s.schema match {
        case Some(facts) => (s.db, facts)
        case None =>
          val facts = Schema.facts(s.db)
          if (state eq s) state = Logged(s.db, Some(facts))
          (s.db, facts)
      }
    }

    private var tempCounter = 0L
    private def freshTemp(): String = { tempCounter += 1; s"graft.temp-$tempCounter" }

    /** Map-form → add-forms, the reference's emission order (the
      * parent→child link BEFORE the child's own facts — transact.clj
      * map-form->add-forms `conj`s the link onto the front;
      * transact_test.clj expand-map-forms-test pins the order, run
      * verbatim by ReferenceTxCorpusSpec). Order matters observably:
      * it fixes which fresh ids implicit temp ids resolve to. */
    private def expand(stmt: TxStmt): Seq[TxStmt] = stmt match {
      case m: MapForm =>
        val id = m.tempId.getOrElse(freshTemp())
        m.attrs.flatMap {
          case (a, child: MapForm) =>
            val childId = child.tempId.getOrElse(freshTemp())
            Add(id, a, EntityRef(childId)) +: expand(child.copy(tempId = Some(childId)))
          case (a, children: Seq[_]) if children.forall(_.isInstanceOf[MapForm]) =>
            children.flatMap { c0 =>
              val c = c0.asInstanceOf[MapForm]
              val childId = c.tempId.getOrElse(freshTemp())
              Add(id, a, EntityRef(childId)) +: expand(c.copy(tempId = Some(childId)))
            }
          case (a, v) => Seq(Add(id, a, v))
        }
      case other => Seq(other)
    }

    /** Marker for a reference-to-entity value (temp id or resolved). */
    case class EntityRef(id: Any)

    def transact(txData: Seq[TxStmt]): TxReport = {
      val txId = nextTx
      nextTx += 1
      // every tx writes a tx entity carrying its wall-clock instant
      // (reference make-new-tx-facts, transact.clj:17-21)
      val transformed = transforms.foldLeft(txData.flatMap(expand))((d, t) => t(d))
      val expanded = transformed :+
        // the tx-entity temp id is part of the reference's REPORT
        // contract (transact_test.clj asserts tempids keys include
        // "unifydb.tx") — keep the reference's name so verbatim users
        // find it
        Add("unifydb.tx", "unifydb/txInstant", clock())
      // temp-id resolution
      val temps = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      def resolveE(e: Any): Long = e match {
        case s: String => temps.getOrElseUpdate(s, { val id = nextId; nextId += 1; id })
        case l: Long => l
        case i: Int => i.toLong
        case other => throw new IllegalArgumentException(s"bad entity id $other")
      }
      val facts = expanded.map {
        case Add(e, a, EntityRef(rid)) => (resolveE(e), a, EntityRef(resolveE(rid)), txId, true)
        case Add(e, a, v) => (resolveE(e), a, v, txId, true)
        case Retract(e, a, v) => (resolveE(e), a, v, txId, false)
        case m: MapForm => throw new IllegalStateException(s"unexpanded $m")
      }
      appendFacts(facts)
      val report = TxReport(txId, temps.toMap,
        facts.map { case (e, a, v, t, ad) => (e, a, v, t, ad) })
      reportFilters.foldLeft(report)((r, f) => f(r))
    }

    private def appendFacts(facts: Seq[(Long, String, Any, Long, Boolean)]): Unit = {
      val rows = facts.map { case (e, a, v, tx, added) =>
        val (vtype, vstr, vlong, vdbl, vts, vref) = v match {
          case EntityRef(id: Long) => ("r", null, null, null, null, java.lang.Long.valueOf(id))
          case s: String => ("s", s, null, null, null, null)
          case l: Long => ("l", null, java.lang.Long.valueOf(l), null, null, null)
          case i: Int => ("l", null, java.lang.Long.valueOf(i.toLong), null, null, null)
          case d: Double => ("d", null, null, java.lang.Double.valueOf(d), null, null)
          case t: java.sql.Timestamp => ("t", null, null, null, t, null)
          case b: Boolean => ("l", null, java.lang.Long.valueOf(if (b) 1L else 0L), null, null, null)
          case other => throw new IllegalArgumentException(s"unsupported value $other")
        }
        Row(e, a, vtype, vstr, vlong, vdbl, vts, vref, tx, added)
      }
      val schemaBatch = rows.collect { case r if Schema.isSchemaAttr(r.getString(1)) =>
        val vtsMicros = Option(r.getAs[java.sql.Timestamp](6))
          .map(t => java.lang.Long.valueOf(DateTimeUtils.fromJavaTimestamp(t))).orNull
        LocalFacts.Fact(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          r.getAs(4), r.getAs(5), vtsMicros, r.getAs(7), r.getLong(8), r.getBoolean(9))
      }
      val typesSeq = facts.map { case (_, a, v, _, _) =>
        a -> (v match {
          case EntityRef(_) => "vref"
          case _: String => "vstr"
          case _: Long | _: Int | _: Boolean => "vlong"
          case _: Double => "vdbl"
          case _: java.sql.Timestamp => "vts"
        })
      }
      // graft types each attribute to ONE value slot — the deliberate
      // trade (SURVEY §4) against the reference's cc-cmp total order
      // over heterogeneous values (comparison.clj:91). A value whose
      // slot disagrees with the attribute's registered slot would
      // silently RETYPE the attribute and orphan its existing facts'
      // pattern/sort path — reject the transaction loudly instead.
      typesSeq.groupBy(_._1).foreach { case (a, slots) =>
        val distinctSlots = slots.map(_._2).distinct
        val prior = db.attrTypes.get(a)
        if (distinctSlots.size > 1 || prior.exists(_ != distinctSlots.head))
          throw new IllegalArgumentException(
            s"attribute $a is typed ${prior.getOrElse(distinctSlots.head)} but " +
              s"the transaction writes ${distinctSlots.mkString(",")}: graft " +
              "attributes hold one value type (no mixed-type cc-cmp ordering); " +
              "use a distinct attribute per value type")
      }
      val types = typesSeq.toMap
      val batch = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), FactStore.factSchema)
      val s = state
      state = Logged(
        FactDb(s.db.log.unionAll(batch), s.db.attrTypes ++ types, s.db.cardMany,
          versioned = true),
        s.schema.map(_ ++ schemaBatch))
    }
  }

  /** Fresh session with an empty fact log. */
  def emptySession(spark: SparkSession, firstTx: Long = 1L,
                   firstEntityId: Long = 1L,
                   clock: () => Long = () => System.currentTimeMillis()): Session = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], FactStore.factSchema)
    new Session(spark, FactDb(empty, Map.empty), firstTx, firstEntityId, clock,
      schema0 = Some(Vector.empty))
  }

  /** Session over an existing db (e.g. bulk-melted base tables). */
  def session(spark: SparkSession, db: FactDb, firstTx: Long,
              firstEntityId: Long): Session =
    new Session(spark, db, firstTx, firstEntityId)
}
