package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** The engine's native functions: the one way a kernel enters a plan, and
  * the SQL-name registration, so `spark.sql("SELECT json_get(props, 'k')
  * ...")` works alongside the Column API. Session-scoped (temp functions). */
object GraftFunctions {

  /** Kernel `owner.name(args)` as a Catalyst `StaticInvoke`: codegen emits
    * the direct static call, the interpreted path finds the same method by
    * reflection, and a null argument gives a null result without calling
    * the kernel. No input types are declared, so the analyzer inserts no
    * implicit casts in front of what the kernel reads; the callers fix the
    * column types. Constants a kernel reads (coefficient arrays,
    * hyperplanes) go in as `Literal.fromObject`, which codegen passes by
    * reference. `returnNullable` says whether the kernel itself may return
    * null. */
  private[graft] def kernel(owner: AnyRef, name: String, dataType: DataType,
      args: Seq[Expression], returnNullable: Boolean = false): Expression =
    StaticInvoke(owner.getClass, dataType, name, args,
      propagateNull = true, returnNullable = returnNullable)

  def register(spark: SparkSession): Unit = {
    Bridge.registerFunction(spark, "json_get", { args =>
      args match {
        case Seq(json, key) =>
          key match {
            case l: org.apache.spark.sql.catalyst.expressions.Literal
                if l.value != null =>
              JsonGet(json, l.value.toString)
            case other =>
              throw new IllegalArgumentException(
                s"json_get key must be a non-null string literal, got $other")
          }
        case _ =>
          throw new IllegalArgumentException(
            s"json_get expects (json, key), got ${args.length} argument(s)")
      }
    })
    Bridge.registerFunction(spark, "cosine", { args =>
      args match {
        case Seq(a, b) => CosineSimilarity(a, b)
        case _ =>
          throw new IllegalArgumentException(
            s"cosine expects (array, array), got ${args.length} argument(s)")
      }
    })
  }
}
