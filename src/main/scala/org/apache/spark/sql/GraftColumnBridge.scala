/*
 * Lives in org.apache.spark.sql to reach package-private surfaces of the
 * table read path, the SQL row-level commands and the native expressions:
 * Dataset.ofRows, session cloning, StructType.asNullable and the
 * Column ↔ Expression converters. Zone-map pruning does not come
 * through here: it reads the filters Spark pushes to the table scan.
 * Everything used here is Apache Spark public source.
 */
package org.apache.spark.sql

object GraftColumnBridge {

  /** Column ↔ Expression converters (private[sql]): the standard pattern
    * for libraries contributing native Catalyst expressions (Spark 4
    * removed the public Column(expr) constructor).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** DataFrame over a logical plan (classic Dataset.ofRows is
    * private[sql]) — every table read is one over a DSv2 relation, and the
    * SQL row-level commands evaluate a MERGE source plan as a frame.
    */
  def dfOf(spark: SparkSession,
           plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session identical to `spark` (cloneSession copies runtime conf and
    * session state) but with `confs` applied — scoped to the graft read
    * that builds its relation against the clone. File relations capture
    * their session at creation (HadoopFsRelation → FileSourceScanExec reads
    * conf through relation.sparkSession), so joining the returned frames
    * into the base session keeps the clone's settings for the graft leaves
    * while UNRELATED parquet reads on the base session keep their
    * configured behavior — the library never mutates the shared session's
    * conf (VERDICT r5 finding #5). Two uses:
    *  - `spark.sql.parquet.fieldId.read.enabled=true`: rename-safe reads
    *    resolve file columns by field id;
    *  - `spark.sql.parquet.filterPushdown=false` for reads of tables whose
    *    current column names shadow DEAD physical columns (post
    *    drop/rename name reuse): parquet pushdown matches file columns by
    *    NAME, so a name-shadowed filter would consult the dead column's
    *    row-group stats and prune groups that DO match.
    * Clones are cached per base session: SessionState cloning is
    * driver-side but not free, and read paths run per query. A cached clone
    * is re-made once any runtime conf of its base changes, so settings made
    * after a first read reach the next one.
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
}
