package graft.stats

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Precompiled regex bank evaluated against one value in a single call,
  * returning a bitmask (bit i = pattern i matched, `find()` semantics like
  * `rlike`). Patterns are compiled once per JVM-deserialized instance. A
  * java.util.regex.Matcher is stateful and not thread-safe, so each caller
  * reuses its own [[matchers]]: generated code holds one array per partition,
  * interpreted evaluation one per thread. Reuse avoids the per-row Matcher
  * allocation that `rlike` pays once per pattern per row.
  */
final class PatternBankMatcher(val regexes: Array[String]) extends Serializable {
  import java.util.regex.{Matcher, Pattern}

  // one bit per pattern in a Long mask; beyond 64 the 1L << i shift would
  // silently wrap (mod 64) and alias counts onto the wrong patterns
  require(regexes.length <= 64, s"pattern bank exceeds the 64-bit mask (${regexes.length} patterns)")

  @transient private lazy val compiled: Array[Pattern] = regexes.map(Pattern.compile)

  /** One fresh matcher per pattern, for a single thread's use. */
  def matchers(): Array[Matcher] = compiled.map(_.matcher(""))

  // interpreted evaluation only: a ThreadLocal lookup per value
  @transient private lazy val local: ThreadLocal[Array[Matcher]] =
    ThreadLocal.withInitial(() => matchers())

  def mask(s: UTF8String): Long = mask(s, local.get())

  def mask(s: UTF8String, ms: Array[Matcher]): Long = {
    val str = s.toString
    var m   = 0L
    var i   = 0
    while (i < ms.length) {
      if (ms(i).reset(str).find()) m |= 1L << i
      i += 1
    }
    m
  }
}

/** Native Catalyst expression: match ALL patterns of a bank against the
  * (stringified) child in one pass → LongType bitmask. Replaces N separate
  * `rlike` aggregate children with one expression: one UTF8String→String
  * conversion per value instead of N, reused matchers instead of per-row
  * allocation, and a much smaller whole-stage-codegen footprint (the N
  * aggregate functions each reduce to a shift-and-test of this single
  * mask). Null-intolerant: null child → null mask (aggregating sums skip
  * it, matching `rlike`'s null semantics).
  */
case class MultiPatternMask(child: Expression, regexes: Seq[String]) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(StringType)

  @transient private lazy val bank = new PatternBankMatcher(regexes.toArray)

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = bank.mask(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bankRef = ctx.addReferenceObj("patternBank", bank, classOf[PatternBankMatcher].getName)
    // per-partition matchers, as Spark's RLike holds its Pattern
    val matchers = ctx.addMutableState("java.util.regex.Matcher[]", "patternBankMatchers",
      v => s"$v = $bankRef.matchers();")
    defineCodeGen(ctx, ev, c => s"$bankRef.mask($c, $matchers)")
  }

  override protected def withNewChildInternal(newChild: Expression): MultiPatternMask =
    copy(child = newChild)

  override def prettyName: String = "multi_pattern_mask"
}
