/*
 * Lives in org.apache.spark.sql to reach package-private surfaces: the
 * classic ExpressionUtils converter (Column → catalyst Expression) and the
 * sql.internal ColumnNode tree behind Spark 4's Column facade — both
 * needed by manifest zone-map pruning to analyze a caller's predicate
 * Column without forcing resolution — plus Dataset.ofRows, session
 * cloning and StructType.asNullable for the table read path. Everything
 * used here is Apache Spark public source.
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftColumnBridge {

  /** Catalyst expression behind a (classic-session) Column. */
  def expressionOf(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Column wrapping a catalyst expression (the inverse direction). */
  def columnOf(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** DataFrame over a logical plan (classic Dataset.ofRows is
    * private[sql]) — every table read is one over a DSv2 relation, and the
    * SQL row-level commands evaluate a MERGE source plan as a frame.
    */
  def dfOf(spark: SparkSession,
           plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session identical to `spark` (cloneSession copies runtime conf and
    * session state) but with parquet field-id read resolution ON — scoped
    * to the graft read that builds its relation against the clone. File
    * relations capture their session at creation (HadoopFsRelation →
    * FileSourceScanExec reads conf through relation.sparkSession), so
    * joining the returned frames into the base session still resolves the
    * graft leaves by id while UNRELATED parquet reads on the base session
    * keep their configured behavior — the library never mutates the shared
    * session's conf (VERDICT r5 finding #5). Clones are cached per base
    * session: SessionState cloning is driver-side but not free, and read
    * paths run per query. A cached clone is re-made once any runtime conf
    * of its base changes, so settings made after a first read reach the
    * next one.
    */
  def sessionWithFieldIdReads(spark: SparkSession): SparkSession =
    scopedSession(spark,
      Map("spark.sql.parquet.fieldId.read.enabled" -> "true"))

  /** A session identical to `spark` but with `confs` applied — the general
    * form of [[sessionWithFieldIdReads]] (same caching, same leak-free
    * scoping), also carrying `spark.sql.parquet.filterPushdown=false` for
    * reads of tables whose current column names shadow DEAD physical
    * columns (post drop/rename name reuse): parquet pushdown matches file
    * columns by NAME, so a name-shadowed filter would consult the dead
    * column's row-group stats and prune groups that DO match — the scoped
    * clone keeps those reads exact while every other read keeps pushdown.
    */
  def scopedSession(spark: SparkSession,
                    confs: Map[String, String]): SparkSession = {
    val needed = confs.filterNot { case (k, v) =>
      spark.conf.getOption(k).contains(v) }
    if (needed.isEmpty) spark
    else scopedClones.synchronized {
      var perBase = scopedClones.get(spark)
      if (perBase == null) {
        perBase = new java.util.HashMap[Map[String, String], (SparkSession, Map[String, String])]()
        scopedClones.put(spark, perBase)
      }
      // A clone freezes the runtime conf it was cloned with: re-clone when
      // any of the caller's runtime conf changed since, so every setting
      // reaches the reads built on the clone.
      val conf = spark.conf.getAll
      val cached = perBase.get(needed)
      if (cached != null && cached._2 == conf) cached._1
      else {
        val c = spark.asInstanceOf[classic.SparkSession].cloneSession()
        needed.foreach { case (k, v) => c.conf.set(k, v) }
        perBase.put(needed, (c, conf))
        c
      }
    }
  }

  private val scopedClones = new java.util.WeakHashMap[SparkSession,
    java.util.HashMap[Map[String, String], (SparkSession, Map[String, String])]]()

  /** `s` with every field nullable, nested ones included — the schema a
    * parquet relation reads a table as.
    */
  def nullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Neutral view of a Column's node tree: function calls over attributes
    * and external-valued literals; anything else is opaque (consumers must
    * treat it conservatively).
    */
  sealed trait PredNode
  final case class PCall(name: String, args: Seq[PredNode]) extends PredNode
  final case class PAttr(name: String) extends PredNode
  final case class PLit(value: Any) extends PredNode
  case object POpaque extends PredNode

  def predTreeOf(c: Column): PredNode = lower(c.node)

  private def lower(n: internal.ColumnNode): PredNode = n match {
    case f: internal.UnresolvedFunction =>
      PCall(f.functionName, f.arguments.map(lower))
    case a: internal.UnresolvedAttribute if a.nameParts.length == 1 =>
      PAttr(a.nameParts.head)
    case l: internal.Literal => PLit(l.value)
    case _ => POpaque
  }
}
