package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import graft.catalog.ChunkMeta

/** The engine's `metrics` relation: one logical leaf with the catalog's
  * union schema, over the chunks a query's prune selected (none while the
  * text is analyzed for extraction). [[MetricsScan.Planner]] plans it; the
  * routers recognise the engine's own scan by this type.
  */
final case class MetricsScan(output: Seq[AttributeReference], chunks: Seq[ChunkMeta],
                             oneTask: Boolean) extends LeafNode with MultiInstanceRelation {

  override def newInstance(): MetricsScan = copy(output = output.map(_.newInstance()))

  /** The chunks' Parquet relation, read with this leaf's schema. Built at
    * most once per leaf and shared with its clones (each planning optimizes
    * a clone of the analyzed plan), so every planning of a served frame (the
    * localizing collect, a router's replan) reuses one file index instead of
    * listing the chunks again.
    */
  @transient private var parquet = new MetricsScan.Once(
    SparkSession.active.read.schema(schema).parquet(chunks.map(_.path): _*)
      .queryExecution.analyzed.asInstanceOf[LogicalRelation])

  /** [[parquet]] carrying this leaf's attributes. */
  def relation: LogicalRelation = parquet.value.copy(output = output)

  override def clone(): LogicalPlan = {
    val c = super.clone().asInstanceOf[MetricsScan]
    c.parquet = parquet
    c
  }

  /** The chunks' catalog sizes, the bytes a Parquet relation over them reports. */
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(chunks.iterator.map(_.sizeBytes).sum))

  override def simpleString(maxFields: Int): String =
    s"MetricsScan ${output.mkString("[", ",", "]")}, ${chunks.size} chunks" +
      (if (oneTask) ", one task" else "")
}

object MetricsScan {

  private final class Once[T](build: => T) { lazy val value: T = build }

  /** Plans a [[MetricsScan]] and the projections and filters above it as the
    * same `Project`/`Filter` over a Parquet relation of its chunks, read with
    * its schema and carrying its attributes, so file-source planning pushes
    * the filters and prunes the read's columns; a label no chunk carries reads
    * as NULL. A one-task leaf's scan is coalesced to one partition, so an
    * aggregate or ORDER BY above it needs no exchange. No chunks plan an
    * empty local scan.
    */
  object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case PhysicalOperation(projects, filters, m: MetricsScan) =>
        if (m.chunks.isEmpty) planLater(LocalRelation(projects.map(_.toAttribute))) :: Nil
        else {
          val scan = Project(projects,
            filters.reduceOption(And).fold[LogicalPlan](m.relation)(Filter(_, m.relation)))
          planLater(if (m.oneTask) Repartition(1, shuffle = false, scan) else scan) :: Nil
        }
      case _ => Nil
    }
  }

  /** Put [[Planner]] first among `spark`'s extra strategies, once. */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(Planner)) ex.extraStrategies = Planner +: ex.extraStrategies
  }
}
