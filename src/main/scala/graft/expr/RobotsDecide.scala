package graft.expr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The robots.txt fetch-permission decision as ONE codegen'd kernel —
  * the evaluator behind [[graft.ops.RobotsTxt.isAllowed]]. The whole
  * effective rule set — host → [(pattern, spec, allow)] — is a broadcast
  * variable, read once per generated instance: each executor holds one
  * copy, so wildcard regexes compile once per JVM instead of once per
  * row (Spark caches only foldable `regexp_like` patterns), literal rules
  * are raw `startsWith` probes, and the per-row work is a hash lookup + a
  * few matcher probes with zero allocation on the literal path. (A
  * reference object inside the task closure is deserialized again by
  * every task: at 131k hosts that cost more than the relational
  * broadcast join it replaced.)
  *
  * Decision semantics: longest pattern (in code points) wins, Allow
  * beats Disallow on ties, no match / no robots ⇒ allow. A NULL host or
  * path (a NULL url) has no robots file, so it is allowed too: the
  * expression is never NULL. RobotsTxtSpec checks every fixture matrix
  * against an independent plain-Scala RFC 9309 evaluator, and the
  * `q_robots_allowed` DuckDB oracle replays the decision in SQL.
  *
  * Host-table ceiling: the table lives on the driver/executor heap
  * (~100 B/rule). Fine through ~10^6 hosts; per-row cost rises with the
  * table once it outgrows the cache (BASELINE.md robots rows). At
  * web-scale host counts (10^8) partition the corpus by host range and
  * build per-range tables.
  */
case class RobotsDecide(path: Expression, host: Expression,
                        table: Broadcast[RobotsDecide.Table])
    extends BinaryExpression {

  override def left: Expression = path
  override def right: Expression = host
  override def prettyName: String = "robots_decide"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (path.dataType == StringType && host.dataType == StringType)
      TypeCheckSuccess
    else TypeCheckFailure(
      s"path/host must be STRING, got ${path.dataType}/${host.dataType}")
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    RobotsDecide.compute(path.eval(input).asInstanceOf[UTF8String],
      host.eval(input).asInstanceOf[UTF8String], table.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableCls = classOf[RobotsDecide.Table].getName
    val bcRef = ctx.addReferenceObj("robotsTableBc", table,
      classOf[Broadcast[_]].getName)
    // read the broadcast once per generated instance, not once per row
    val tableRef = ctx.addMutableState(tableCls, "robotsTable",
      v => s"$v = ($tableCls) $bcRef.value();")
    val p = path.genCode(ctx)
    val h = host.genCode(ctx)
    ev.copy(code = code"""
      ${p.code}
      ${h.code}
      boolean ${ev.value} = graft.expr.RobotsDecide.compute(
        ${p.isNull} ? null : ${p.value}, ${h.isNull} ? null : ${h.value},
        $tableRef);""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RobotsDecide =
    copy(path = newLeft, host = newRight)
}

object RobotsDecide {

  /** One effective rule. Literal rules (no `*`, no trailing `$`) match
    * by `startsWith`; the others compile their regex on first use, once
    * per Rule instance — so once per executor JVM, since the table is
    * broadcast. `spec` counts CODE POINTS, as the oracle's
    * `len(pattern)` does (UTF-16 units would diverge on
    * supplementary-plane patterns): the longest-match precedence key.
    */
  final class Rule(val pattern: String, val allow: Boolean) {
    val literal: Boolean = !pattern.contains("*") && !pattern.endsWith("$")
    val spec: Int = pattern.codePointCount(0, pattern.length)
    lazy val regex: java.util.regex.Pattern =
      java.util.regex.Pattern.compile(toRegexString(pattern))
  }

  /** host → rules. Serialized as its (host, pattern, allow) rows and
    * rebuilt on read: Java serialization of the object graph took ~1 s
    * per broadcast at 131k hosts.
    */
  final class Table(@transient private var m: java.util.HashMap[String, Array[Rule]])
      extends Serializable {

    /** The rules of `host`, or null when it has no robots file. */
    def rules(host: String): Array[Rule] = m.get(host)

    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      def str(s: String): Unit = {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
      }
      out.writeInt(m.size)
      m.forEach { (host, rs) =>
        str(host); out.writeInt(rs.length)
        rs.foreach { r => str(r.pattern); out.writeBoolean(r.allow) }
      }
    }

    private def readObject(in: java.io.ObjectInputStream): Unit = {
      def str(): String = {
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
      }
      val n = in.readInt()
      m = new java.util.HashMap[String, Array[Rule]](n * 2)
      for (_ <- 0 until n) {
        val host = str()
        m.put(host, Array.fill(in.readInt())(new Rule(str(), in.readBoolean())))
      }
    }
  }

  /** Pattern → regex: `*` spans, trailing `$` anchors the end,
    * everything else literal, anchored at the path start.
    */
  private[graft] def toRegexString(p: String): String = {
    val hadDollar = p.endsWith("$")
    val core = if (hadDollar) p.dropRight(1) else p
    "^" + core.split("\\*", -1).map {
      case "" => ""
      case seg => java.util.regex.Pattern.quote(seg)
    }.mkString(".*") + (if (hadDollar) "$" else "")
  }

  /** `rules` are (host, pattern, allow) rows. */
  def buildTable(rules: Seq[(String, String, Boolean)]): Table = {
    val m = new java.util.HashMap[String, Array[Rule]]()
    rules.groupBy(_._1).foreach { case (host, rs) =>
      m.put(host, rs.map { case (_, pat, allow) => new Rule(pat, allow) }.toArray)
    }
    new Table(m)
  }

  /** The per-row decision: best (spec, allow) with init (-1, allow=true);
    * a NULL host or path is allowed.
    */
  def compute(path: UTF8String, host: UTF8String, table: Table): Boolean = {
    if (path == null || host == null) return true
    val rs = table.rules(host.toString)
    if (rs == null) return true
    val p = path.toString
    var bestSpec = -1
    var bestAllow = true
    var i = 0
    while (i < rs.length) {
      val r = rs(i)
      val matched =
        if (r.literal) p.startsWith(r.pattern)
        else r.regex.matcher(p).find()
      if (matched && (r.spec > bestSpec ||
          (r.spec == bestSpec && r.allow && !bestAllow))) {
        bestSpec = r.spec
        bestAllow = r.allow
      }
      i += 1
    }
    bestAllow
  }

  /** Column-API entry point; [[graft.ops.RobotsTxt.ruleTable]] builds
    * and broadcasts `table`.
    */
  def robots_decide(path: Column, host: Column,
                    table: Broadcast[Table]): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(RobotsDecide(GraftBridge.expression(path),
      GraftBridge.expression(host), table))
  }
}
