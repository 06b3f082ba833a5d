package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture as a batch diff operator (SURVEY §2.10): the
  * reference's auditlog intercepts create/write/unlink and records
  * field-level (old, new) pairs (auditlog/models/rule.py:270-552,
  * DictDiffer :23-47). Re-expressed Spark-first: given two snapshots of a
  * table, emit one row per (key, field) that was created, deleted, or
  * changed — the same log-line grain as `auditlog.log.line`.
  *
  * Scale: a single full-outer join on the key (both sides shuffle-
  * partitioned on it) followed by a generator over the fixed field list —
  * no driver state, linear in input size. Retention vacuum
  * (autovacuum.py:16-37) maps to dropping date partitions of the log sink.
  */
object ChangelogDiff {

  /** Diff `oldDf` and `newDf` on primary key `key`. All compared fields are
    * cast to string (the reference stores rendered values). Output:
    * (`res_id`, `op` create|unlink|write, `field`, `old_value`, `new_value`). */
  def diff(oldDf: DataFrame, newDf: DataFrame, key: String): DataFrame = {
    val fields = oldDf.columns.filter(_ != key).toSeq
      .intersect(newDf.columns.filter(_ != key).toSeq)
    val o = oldDf.select(col(key).as("o_key") +:
      fields.map(f => col(f).cast("string").as(s"o_$f")): _*)
    val n = newDf.select(col(key).as("n_key") +:
      fields.map(f => col(f).cast("string").as(s"n_$f")): _*)
    val joined = o.join(n, col("o_key") === col("n_key"), "full_outer")
      .withColumn("res_id", coalesce(col("o_key"), col("n_key")))
      .withColumn("op",
        when(col("o_key").isNull, "create")
          .when(col("n_key").isNull, "unlink")
          .otherwise("write"))
    // one output row per changed field: stack the (field, old, new) triples
    val triples = fields.map(f =>
      struct(lit(f).as("field"), col(s"o_$f").as("old_value"), col(s"n_$f").as("new_value")))
    joined
      .select(col("res_id"), col("op"), explode(array(triples: _*)).as("t"))
      .select(col("res_id"), col("op"), col("t.field"), col("t.old_value"), col("t.new_value"))
      .filter(
        (col("op") === "write" && !(col("old_value") <=> col("new_value"))) ||
          col("op") =!= "write")
  }

  /** Read-interception arm of the method patcher (auditlog/models/rule.py
    * :356-372 `_make_read`, :536-543 `create_logs` read branch, :590-607
    * `_prepare_log_line_vals_on_read`): a logged read does NOT diff — it
    * records WHICH fields of WHICH records a user saw, with the value as
    * read in `old_value` and no `new_value`. Output is the same log-line
    * grain as [[diff]] with `op='read'` plus the acting `user_id`, so the
    * same [[AuditRule]] policy composes downstream (excluded user → the
    * whole read log vanishes; excluded field → that line vanishes).
    *
    * Scale: one narrow projection + a generator over the fixed field
    * list — map-side only, zero shuffle, zero driver state; at 100 TB the
    * read log is an append-only sink partitioned like the CDC log. */
  def readLog(snapshot: DataFrame, key: String, fields: Seq[String],
              userId: org.apache.spark.sql.Column): DataFrame = {
    val triples = fields.map(f =>
      struct(lit(f).as("field"), col(f).cast("string").as("old_value"),
        lit(null).cast("string").as("new_value")))
    snapshot
      .select(col(key).as("res_id"), userId.as("user_id"),
        explode(array(triples: _*)).as("t"))
      .select(col("res_id"), lit("read").as("op"), col("t.field"),
        col("t.old_value"), col("t.new_value"), col("user_id"))
  }

  /** Audit-rule policy knobs (auditlog.rule, auditlog/models/rule.py:50-162
    * + tests/test_auditlog.py): which fields and users are excluded from
    * logging, and whether unlink captures the record's values. */
  final case class AuditRule(fieldsToExclude: Set[String] = Set.empty,
                             usersToExclude: Set[Long] = Set.empty,
                             captureRecord: Boolean = true)

  /** Apply an [[AuditRule]] to a log-line frame (the output of [[diff]]
    * joined with the acting `user_id` column):
    *
    *  - lines produced by an excluded user are dropped entirely
    *    (rule.py users_to_exclude: no log for that user's operations);
    *  - lines for an excluded field are dropped (fields_to_exclude +
    *    FIELDS_BLACKLIST: the log exists, that field has no line);
    *  - when `captureRecord` is false, unlink keeps ONE marker line per
    *    record with a null field (the reference creates the log record
    *    but no value lines, test_05/test_06 AuditlogFull unlink).
    *
    * Pure narrow filters/projections — no shuffle beyond the marker
    * dedup, which groups on the (res_id) key already carried. */
  def applyRule(lines: DataFrame, rule: AuditRule): DataFrame = {
    val afterUser =
      if (rule.usersToExclude.isEmpty) lines
      else lines.filter(!col("user_id").isin(rule.usersToExclude.toSeq: _*))
    val afterFields =
      if (rule.fieldsToExclude.isEmpty) afterUser
      else afterUser.filter(!col("field").isin(rule.fieldsToExclude.toSeq: _*))
    if (rule.captureRecord) afterFields
    else {
      val keep = afterFields.filter(col("op") =!= "unlink")
      // markers derive from the USER-filtered lines, NOT the field-filtered
      // ones: the reference still creates the unlink log record even when
      // every one of its fields is excluded — only the value lines vanish
      val markers = afterUser.filter(col("op") === "unlink")
        .select(col("res_id"), col("op"), col("user_id")).distinct()
        .withColumn("field", lit(null).cast("string"))
        .withColumn("old_value", lit(null).cast("string"))
        .withColumn("new_value", lit(null).cast("string"))
        .select(keep.columns.map(col): _*)
      keep.unionByName(markers)
    }
  }
}
