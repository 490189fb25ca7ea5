package graft.model

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.Behavior

/** Typed data model (SURVEY §1 / FIXTURES §A): the wide click event and
  * the value-only topic message it fans out into. `Dataset[T]` surface for
  * callers who want compile-time field checks; the operators themselves
  * stay `DataFrame`-shaped so Catalyst sees plain columns.
  */

/** One wide click event (FIXTURES §A2) — the logical record BEFORE the
  * reference's 4-way topic fan-out (`templates.zip!index.html:179`). */
case class ClickEvent(event_id: Long, user_id: Long, event_type: String,
    props: String)

/** One value-only Kafka-style message (FIXTURES §A1): the reference's
  * entire analytical input shape (`serwer.js:100-118`). */
case class TopicMessage(topic: String, value: String)

object Model {

  /** Wide → fan-out codec (round-trip law tested in ModelSpec). */
  def fanout(events: Dataset[ClickEvent]): Dataset[TopicMessage] = {
    val spark = events.sparkSession
    import spark.implicits._
    Behavior.fanoutMessages(events.toDF()).as[TopicMessage]
  }

  /** Fan-out → wide regroup: collect the per-dimension values back into
    * one row per (service, click ordinal). Lossy only in event ids (the
    * reference's messages carry none); used for the round-trip property. */
  def regroupValues(msgs: Dataset[TopicMessage]): DataFrame =
    msgs.toDF()
      .select(Behavior.serviceOf(col("topic")).as("service"),
        Behavior.dimOf(col("topic")).as("dim"), col("value"))
      .groupBy(col("service"), col("dim"), col("value"))
      .agg(count(lit(1)).as("cnt"))
}
