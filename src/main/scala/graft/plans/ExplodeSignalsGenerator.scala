package graft.plans

import com.fasterxml.jackson.databind.JsonNode
import graft.schema.{SignalDefinition, SignalDefinitions, ValueKind}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable UDTF form of the signal-explosion operator: one row per
  * present signal from a raw status-payload JSON string —
  * `SELECT explode_signals(data) FROM status` or
  * `... LATERAL VIEW explode_signals(data) s AS name, value_number,
  * value_string`.
  *
  * The DataFrame-native path ([[graft.ops.SignalExplode]]) stays the
  * preferred engine surface — it is a pure Column program Catalyst can
  * prune and push. This Generator exists for the SQL surface the reference
  * never had (SURVEY.md §2.6: "if SQL-exposed: a Generator"), and for
  * payloads whose schema is unknowable at plan time. Row-at-a-time Jackson
  * parse, like any Generator; registered via [[graft.GraftExtensions]].
  */
case class ExplodeSignals(child: Expression, requiredNames: Option[Seq[String]] = None)
    extends UnaryExpression
    with Generator
    with CodegenFallback {

  private val defs: Seq[SignalDefinition] = requiredNames match {
    case Some(names) => SignalDefinitions.resolve(names)
    case None        => SignalDefinitions.all
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("value_number", DoubleType, nullable = false),
    StructField("value_string", StringType, nullable = false)
  ))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other      => TypeCheckResult.TypeCheckFailure(s"explode_signals expects a JSON string, got $other")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    val root: JsonNode =
      try graft.sources.EsQueryDsl.mapper.readTree(raw.toString)
      catch { case _: Exception => return Nil } // bad doc ⇒ zero rows, batch survives
    if (root == null || !root.isObject) return Nil
    defs.flatMap { d =>
      val node = d.originalName.split('.').foldLeft(root) { (n, seg) =>
        if (n == null) null else n.get(seg)
      }
      if (node == null || node.isNull) None
      else d.kind match {
        case ValueKind.Number if node.isNumber =>
          Some(InternalRow(UTF8String.fromString(d.vssName), node.asDouble() * d.scale, UTF8String.fromString("")))
        case ValueKind.Str if node.isTextual =>
          Some(InternalRow(UTF8String.fromString(d.vssName), 0.0, UTF8String.fromString(node.asText())))
        case _ => None // type-mismatched field ⇒ skip signal, keep doc
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ExplodeSignals =
    copy(child = newChild)
}
