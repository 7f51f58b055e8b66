package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Except, Join, Window}
import org.scalatest.Assertions._

/** The change feed's plan shape: ONE aggregate, grouped on the table's
  * keys, and no LWW window, set difference or anti-join.
  */
object FeedPlans {
  def assertOneKernel(feed: DataFrame, keys: Seq[String]): DataFrame = {
    val plan = feed.queryExecution.optimizedPlan
    val groupings = plan.collect { case a: Aggregate =>
      a.groupingExpressions.map {
        case at: Attribute => at.name
        case e => e.sql
      }
    }
    assert(groupings == Seq(keys), s"one aggregate on $keys, got $groupings:\n$plan")
    assert(plan.collect { case w: Window => w }.isEmpty, s"a Window:\n$plan")
    assert(plan.collect { case j: Join if j.joinType == LeftAnti => j }.isEmpty,
      s"a LeftAnti join:\n$plan")
    assert(feed.queryExecution.analyzed.collect { case e: Except => e }.isEmpty,
      s"an Except:\n${feed.queryExecution.analyzed}")
    feed
  }
}
