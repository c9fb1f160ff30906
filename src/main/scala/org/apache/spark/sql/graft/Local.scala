package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution

/** Small inputs that already sit on the driver. A DataFrame built from a
  * local collection optimizes to a [[LocalRelation]]: its rows can be read
  * and measured without a query. Lives here because `Dataset.ofRows` and the
  * classic `queryExecution` are `private[sql]`-adjacent. */
object Local {
  private def qe(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  /** `df`'s rows when its optimized plan is a batch local relation. The
    * optimizer folds projections and filters over local rows by
    * evaluating them, so a caller that goes on to run a query reads these
    * rows through [[frame]] rather than `df`, which would evaluate them
    * again. A plan with a nondeterministic expression is never looked at:
    * optimizing it here would evaluate that expression once more than the
    * query that runs it. */
  def relation(df: DataFrame): Option[LocalRelation] = {
    val q = qe(df)
    if (!q.analyzed.deterministic) None
    else q.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming => Some(l)
      case _ => None
    }
  }

  /** `df`'s output attributes, qualifiers included. */
  def output(df: DataFrame): Seq[Attribute] = qe(df).analyzed.output

  /** The exact in-memory (unsafe row) size of `l`'s rows. */
  def bytes(l: LocalRelation): Long = {
    val proj = UnsafeProjection.create(l.schema)
    l.data.iterator.map(r => proj(r).getSizeInBytes.toLong).sum
  }

  /** `rows` laid out as `output`, under fresh attribute ids. */
  def frame(spark: SparkSession, output: Seq[Attribute], rows: Seq[InternalRow]): DataFrame =
    Relations.ofRows(spark, LocalRelation(output.map(_.newInstance()), rows))

  /** `l`'s rows as a DataFrame. */
  def frame(spark: SparkSession, l: LocalRelation): DataFrame = frame(spark, l.output, l.data)

  /** `f` over each partition of `df`'s rows, in one root SQL execution
    * that adds no shuffle: one job (plus the plan's own broadcasts), one
    * result per task. Rows are Catalyst rows in `df`'s column order; `f`
    * must copy any row it keeps. */
  def mapPartitions[T: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => T): Seq[T] = {
    val q = qe(df)
    SQLExecution.withNewExecutionId(q, Some("mapPartitions")) {
      q.toRdd.mapPartitions(it => Iterator.single(f(it))).collect().toSeq
    }
  }
}
