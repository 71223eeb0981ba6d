package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ExprId, Expression, HigherOrderFunction, LambdaFunction, NamedLambdaVariable, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.objects.LambdaVariable
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.DataType

/** Swaps an `aggregate(array, zero, merge[, finish])` for a
  * [[CompiledArrayAggregate]] that Spark compiles, where Spark's own
  * `ArrayAggregate` is `CodegenFallback`: one interpreted, boxed lambda
  * call per element, and no whole-stage codegen for the operator that
  * holds it. An image line is one row `(Image: array, ImgIndex)`, so a
  * per-line reduction is written this way.
  *
  * It compiles when the merge and finish bodies are deterministic and
  * hold no other higher-order function, no `CodegenFallback` (so no
  * outer lambda's variable either) and no subquery, and the accumulator
  * has an atomic type. Anything else keeps Spark's `ArrayAggregate`.
  *
  * The lambda variables become `LambdaVariable`s whose ids are assigned
  * here by position in the plan, past every id the plan already holds
  * and with the sign of those ids (Spark's `ReassignLambdaVariableID`
  * refuses a plan that mixes signs). The generated Java source names
  * them by id, so one query shape always gives the same source and
  * Janino compiles it once per JVM; an id taken from an `exprId` would
  * change on every build of the query. */
object CompileArrayAggregate extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(HIGH_ORDER_FUNCTION)) plan
    else {
      val ids = plan.flatMap(_.expressions.flatMap(_.collect {
        case v: LambdaVariable => v.id
      }))
      val sign = if (ids.exists(_ < 0)) -1L else 1L
      var last = ids.map(math.abs).maxOption.getOrElse(0L)
      plan.transformAllExpressionsWithPruning(_.containsPattern(HIGH_ORDER_FUNCTION)) {
        case agg: ArrayAggregate =>
          val c = compile(agg, sign * (last + 1), sign * (last + 2))
          if (c.isDefined) last += 2
          c.getOrElse(agg)
      }
    }

  private def compile(agg: ArrayAggregate, accId: Long,
      elemId: Long): Option[CompiledArrayAggregate] = agg match {
    case ArrayAggregate(arg, zero,
        LambdaFunction(m, Seq(a: NamedLambdaVariable, x: NamedLambdaVariable), _),
        LambdaFunction(f, Seq(out: NamedLambdaVariable), _))
        if agg.resolved && Bridge.isAtomic(zero.dataType) &&
          out.dataType == a.dataType =>
      val acc = LambdaVariable("aggregate_acc", a.dataType, a.nullable, accId)
      val elem = LambdaVariable("aggregate_elem", x.dataType, x.nullable, elemId)
      def bind(body: Expression, vars: Map[ExprId, LambdaVariable]) =
        body.transform { case v: NamedLambdaVariable if vars.contains(v.exprId) => vars(v.exprId) }
      def compilable(body: Expression) = body.deterministic && !body.exists {
        case _: HigherOrderFunction | _: CompiledArrayAggregate | _: CodegenFallback |
            _: PlanExpression[_] => true
        case v: LambdaVariable => v != acc && v != elem
        case _ => false
      }
      val merge = bind(m, Map(a.exprId -> acc, x.exprId -> elem))
      val finish = bind(f, Map(out.exprId -> acc))
      if (!compilable(merge) || !compilable(finish)) None
      else {
        val c = CompiledArrayAggregate(arg, zero, merge, finish, acc, elem)
        c.copyTagsFrom(agg)
        Some(c)
      }
    case _ => None
  }
}

/** `ArrayAggregate` with its lambda variables bound to `acc` and `elem`
  * (the finish body reads the final accumulator through `acc`), compiled
  * the way Spark compiles `MapObjects`: the variables are fields of the
  * generated class, and Spark generates each body, so overflow errors,
  * null propagation and casts are Spark's own. Interpreted evaluation,
  * `toString` and `sql` go through the `ArrayAggregate` it stands for.
  * Spark's subexpression elimination skips any expression that holds a
  * `LambdaVariable`, so no piece of a body is hoisted out of the loop,
  * where it would run (and could raise an ANSI error) for a null or
  * empty array. */
case class CompiledArrayAggregate(argument: Expression, zero: Expression,
    merge: Expression, finish: Expression, acc: LambdaVariable,
    elem: LambdaVariable) extends Expression {

  override def children: Seq[Expression] = Seq(argument, zero, merge, finish, acc, elem)
  override def nullable: Boolean = argument.nullable || finish.nullable
  override def dataType: DataType = finish.dataType

  @transient private lazy val interpreted: ArrayAggregate = {
    def named(v: LambdaVariable, name: String) =
      NamedLambdaVariable(name, v.dataType, v.nullable)
    val (a, x, out) = (named(acc, "acc"), named(elem, "x"), named(acc, "acc"))
    def unbind(body: Expression, vars: Map[LambdaVariable, NamedLambdaVariable]) =
      body.transform { case v: LambdaVariable if vars.contains(v) => vars(v) }
    val agg = ArrayAggregate(argument, zero,
      LambdaFunction(unbind(merge, Map(acc -> a, elem -> x)), Seq(a, x)),
      LambdaFunction(unbind(finish, Map(acc -> out)), Seq(out)))
    agg.copyTagsFrom(this)
    agg
  }

  override def eval(input: InternalRow): Any = interpreted.eval(input)
  override def toString: String = interpreted.toString
  override def sql: String = interpreted.sql
  override def prettyName: String = interpreted.prettyName

  /** The same aggregate at another place in a plan has other ids. */
  override lazy val canonicalized: Expression = {
    val (a, x) = (acc.copy(id = 1), elem.copy(id = 2))
    def renumber(e: Expression) = e.transform { case `acc` => a; case `elem` => x }
    CompiledArrayAggregate(argument, zero, renumber(merge), renumber(finish), a, x)
      .withCanonicalizedChildren
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = LambdaVariable.prepareLambdaVariable(ctx, acc)
    val x = LambdaVariable.prepareLambdaVariable(ctx, elem)
    val arr = argument.genCode(ctx)
    val z = zero.genCode(ctx)
    val m = merge.genCode(ctx)
    val f = finish.genCode(ctx)
    val (data, i) = (ctx.freshName("array"), ctx.freshName("i"))
    def setAcc(from: ExprCode) =
      (if (a.isNull == FalseLiteral) "" else s"${a.isNull} = ${from.isNull};\n") +
        s"${a.value} = ${from.value};"
    val get = CodeGenerator.getValue(data, elem.dataType, i)
    val setElem =
      if (x.isNull == FalseLiteral) s"${x.value} = $get;"
      else s"${x.isNull} = $data.isNullAt($i);\n" +
        s"${x.value} = ${x.isNull} ? ${CodeGenerator.defaultValue(elem.dataType)} : ($get);"
    ev.copy(code = code"""
      ${arr.code}
      boolean ${ev.isNull} = ${arr.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        ${z.code}
        ${setAcc(z)}
        ${CodeGenerator.javaType(argument.dataType)} $data = ${arr.value};
        for (int $i = 0; $i < $data.numElements(); $i++) {
          $setElem
          ${m.code}
          ${setAcc(m)}
        }
        ${f.code}
        ${ev.isNull} = ${f.isNull};
        ${ev.value} = ${f.value};
      }
    """)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CompiledArrayAggregate =
    copy(c(0), c(1), c(2), c(3), c(4).asInstanceOf[LambdaVariable],
      c(5).asInstanceOf[LambdaVariable])
}
