package graft.core

import org.apache.spark.sql.functions._

/** Schema-as-facts (reference: /root/reference/src/unifydb/schema.clj +
  * the doc-store test, query_test.clj:150-175): attribute metadata
  * lives IN the fact log as ordinary facts —
  *   [?e :unifydb/schema      <attr-name>]
  *   [?e :unifydb/cardinality "cardinality/many"]
  * — so schema changes are transactional and time-travel like any other
  * fact. Deriving the cardinality-many set is two steps: [[facts]]
  * collects the raw facts of the two schema attributes (one job, once
  * per log — a connection keeps the list and extends it on transact),
  * and [[resolveCardMany]] resolves them as of any tx in plain Scala,
  * with no Spark job.
  */
object Schema {
  val SchemaAttr = "unifydb/schema"
  val CardinalityAttr = "unifydb/cardinality"
  val CardinalityMany = "cardinality/many"

  /** True for the attributes [[facts]] collects. */
  def isSchemaAttr(a: String): Boolean = a == SchemaAttr || a == CardinalityAttr

  /** Every version of every schema fact in `db`'s log: a plain filter
    * and collect (partition-pruned on the partitionBy(a) layout), no
    * window, join or distinct. */
  def facts(db: FactDb): Vector[LocalFacts.Fact] =
    db.log.filter(col("a").isin(SchemaAttr, CardinalityAttr))
      .select(col("e"), col("a"), col("vtype"), col("vstr"), col("vlong"),
        col("vdbl"), unix_micros(col("vts")), col("vref"), col("tx"), col("added"))
      .collect().iterator.map { r =>
        def boxed[T](i: Int): T = r.get(i).asInstanceOf[T]
        LocalFacts.Fact(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          boxed(4), boxed(5), boxed(6), boxed(7), r.getLong(8), r.getBoolean(9))
      }.toVector

  /** Attributes declared :cardinality/many by `schemaFacts` visible as of
    * `asOfTx`, resolved like `db.snapshot(asOfTx)` (so a retracted
    * declaration stops applying — the reference resolves schema via a
    * normal query whose process-facts filters retractions, schema.clj
    * get-cardinalities): the schema names of the entities whose live
    * cardinality is cardinality/many. */
  def resolveCardMany(schemaFacts: Seq[LocalFacts.Fact], db: FactDb,
                      asOfTx: Long): Set[String] = {
    val live = LocalFacts.snapshot(schemaFacts, db, asOfTx)
    val many = live.collect {
      case f if f.a == CardinalityAttr && f.vstr == CardinalityMany => f.e
    }.toSet
    live.collect { case f if f.a == SchemaAttr && many(f.e) => f.vstr }.toSet
  }

  /** Attributes declared :cardinality/many by schema facts visible as of
    * `asOfTx`. */
  def cardManyAttrs(db: FactDb, asOfTx: Long = Long.MaxValue): Set[String] =
    resolveCardMany(facts(db), db, asOfTx)

  /** A FactDb whose cardinality handling follows its own schema facts. */
  def applySchema(db: FactDb, asOfTx: Long = Long.MaxValue): FactDb =
    db.copy(cardMany = db.cardMany ++ cardManyAttrs(db, asOfTx))

  /** All schema properties of `attrs`, keyed by attribute — the
    * reference's `get-schemas` (schema.clj:19-31; schema_test.clj:13):
    * e.g. Map("foo" -> Map("unifydb/schema" -> "foo",
    * "unifydb/cardinality" -> "cardinality/many")). Unknown attrs are
    * absent. */
  def getSchemas(db: FactDb, attrs: Seq[String],
                 asOfTx: Long = Long.MaxValue): Map[String, Map[String, String]] = {
    val log = db.snapshot(asOfTx) // version-resolved: retractions drop out
    val ents = log.filter(col("a") === SchemaAttr && col("vstr").isin(attrs: _*))
      .select(col("e"), col("vstr").as("attr"))
    val props = log.filter(col("a").startsWith("unifydb/"))
      .select(col("e"), col("a").as("prop"), col("vstr").as("value"))
      .filter(col("value").isNotNull)
    ents.join(props, "e").select("attr", "prop", "value")
      .distinct().collect()
      .groupBy(_.getString(0))
      .map { case (attr, rows) =>
        attr -> rows.map(r => r.getString(1) -> r.getString(2)).toMap
      }
  }
}
