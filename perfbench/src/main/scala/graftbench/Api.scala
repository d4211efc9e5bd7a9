package graftbench

import graft.Graft
import graft.core.FactDb
import graft.datalog.{Compiler, Pull, Query, QueryText}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The public calls an operation makes. Untraced, each is the façade
  * call itself; traced, the same call is split into the steps the
  * façade runs (schema, compiler, physical planning, collect), with the
  * same arguments, so each step gets its own span. */
object Api {

  def query(g: Graft, asOf: Long, historical: Boolean, q: Query, st: Steps)
           (implicit spark: SparkSession): Array[Row] =
    if (!st.traced) g.query(q).collect()
    else {
      val db = st.step("schema")(g.db)
      collect(st.step("compiler")(Compiler.run(Compiler.Db(db, asOf, historical), q)), st)
    }

  /** A query sent as EDN text. */
  def queryText(g: Graft, text: String, st: Steps)(implicit spark: SparkSession): Array[Row] =
    if (!st.traced) g.query(QueryText.parseQuery(text)).collect()
    else query(g, Long.MaxValue, historical = false,
      st.step("edn")(QueryText.parseQuery(text)), st)

  def pull(g: Graft, asOf: Long, ids: DataFrame, spec: Pull.Spec, st: Steps): Array[Row] =
    if (!st.traced) g.pull(ids, spec).collect()
    else {
      val db = st.step("schema")(g.db)
      collect(st.step("compiler")(Pull.pullNested(db, ids, spec, asOf)), st)
    }

  def entity(g: Graft, eid: Long, st: Steps): Array[Row] =
    if (!st.traced) g.db.entity(eid).collect()
    else {
      val db = st.step("schema")(g.db)
      collect(st.step("compiler")(db.entity(eid)), st)
    }

  /** A GraphOps call over edges derived from the current database. */
  def graph(g: Graft, edges: FactDb => DataFrame, op: DataFrame => DataFrame,
            st: Steps): Array[Row] =
    if (!st.traced) op(edges(g.db)).collect()
    else {
      val db = st.step("schema")(g.db)
      val e = st.step("compiler")(edges(db))
      collect(st.step("graphops")(op(e)), st)
    }

  private def collect(df: DataFrame, st: Steps): Array[Row] = {
    st.step("catalyst")(org.apache.spark.sql.graftbench.Internals.executedPlan(df))
    val rows = st.step("exec")(df.collect())
    st.frame = df
    st.info("rows_out") = rows.length
    rows
  }
}
