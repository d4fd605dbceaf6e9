package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conversation assembly for fine-tuning data prep: cut a per-user event
  * stream into conversations by inactivity gap (the q55 sessionization
  * rule), order the turns, and report the STRUCTURAL validations a chat
  * corpus is gated on before templating — turn counts per role, strict
  * role alternation, opens-with-user — plus the flattened transcript.
  * This is the "logs → chat examples" step of an assistant-training
  * pipeline; the downstream tokenizer/packing ops (q105, q75) consume its
  * transcript column unchanged.
  *
  * Scale shape: two windows partitioned by user (session cut, turn lag)
  * and one map-side-combining aggregate per conversation — the same
  * per-key window discipline as a lag-gap session cut, no global state. The
  * transcript is assembled from a sorted in-conversation struct array
  * (conversations are bounded by the gap rule, not corpus-sized).
  *
  * Determinism: turns order by (tsCol, tieCol) — the tie column (a log
  * sequence number) makes the order total, so session numbering,
  * alternation flags and the transcript are partition-independent.
  */
object Conversations {

  def assemble(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, role: Column, content: Column, gapMs: Long): DataFrame = {
    require(gapMs > 0, s"gapMs must be > 0, got $gapMs")
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    val prevTs = lag(col(tsCol), 1).over(byUser)
    val cut = when(prevTs.isNull ||
      unix_micros(col(tsCol)) - unix_micros(prevTs) > gapMs * 1000L, 1)
      .otherwise(0)
    val withSess = events
      .withColumn("__role", role)
      .withColumn("__content", content)
      .withColumn("session_no", sum(cut).over(byUser).cast("long"))
    val bySess = Window.partitionBy(col(userCol), col("session_no"))
      .orderBy(col(tsCol), col(tieCol))
    val sameAsPrev =
      when(lag(col("__role"), 1).over(bySess) === col("__role"), 1L)
        .otherwise(0L)
    withSess
      .withColumn("__dup_role", sameAsPrev)
      .groupBy(col(userCol), col("session_no"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("__role") === "user", 1L).otherwise(0L))
          .as("n_user_turns"),
        sum(when(col("__role") === "assistant", 1L).otherwise(0L))
          .as("n_assistant_turns"),
        (sum(col("__dup_role")) === 0L).as("alternation_ok"),
        min(struct(col(tsCol), col(tieCol), col("__role"))).getField("__role")
          .as("__first_role"),
        sort_array(collect_list(struct(col(tsCol), col(tieCol),
          concat(col("__role"), lit(":"), col("__content"))
            .as("__turn")))).as("__ts"))
      .withColumn("starts_with_user", col("__first_role") === "user")
      .withColumn("transcript",
        concat_ws(" | ", transform(col("__ts"), t => t.getField("__turn"))))
      .drop("__first_role", "__ts")
  }
}
