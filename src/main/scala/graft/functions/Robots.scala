package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt evaluation (RFC 9309, the Robots Exclusion Protocol) —
  * the crawl-compliance gate of a web-corpus pipeline: before a URL's
  * content may enter the corpus, the fetch must have been permitted by
  * the host's robots.txt for the crawler's user-agent. Run as a join
  * of the URL table against a (host → robots_txt) table plus this
  * per-row kernel; no shuffle beyond the host join, 100 TB shape.
  *
  * Semantics implemented (the RFC's normative rules):
  *   - groups: consecutive `User-agent:` lines share the rule block
  *     that follows; matching is case-insensitive on the product
  *     token; if any group names the agent specifically, ONLY the
  *     specific groups apply, otherwise the `*` groups;
  *   - rules: `Allow:` / `Disallow:` (case-insensitive keys), values
  *     are path patterns matched against the URL path BY OCTETS from
  *     the first character; `*` matches any run (including empty),
  *     `$` as the final pattern char anchors the end;
  *   - precedence: the matching rule with the LONGEST pattern wins;
  *     at equal length Allow beats Disallow (RFC 9309 §2.2.2);
  *   - an empty pattern matches nothing; unmatched paths are allowed;
  *     a missing/empty robots.txt allows everything;
  *   - `#` starts a comment; blank lines are group separators only in
  *     the sense above (a rule line after blanks still belongs to the
  *     last user-agent block, per the RFC's "collection" wording).
  *
  * Out of scope (stated): Crawl-delay (non-standard), Sitemap lines
  * (ignored as unknown keys), the 500 KiB size cap (callers truncate). */
object Robots {

  final case class Rule(allow: Boolean, pattern: String)

  /** `*` / `$` pattern match per RFC 9309: anchored at the path start,
    * `*` matches any octet run, trailing `$` anchors the end. */
  def matches(pattern: String, path: String): Boolean = {
    if (pattern.isEmpty) return false
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val segs = p.split("\\*", -1) // -1 keeps trailing empty segs ("a*" -> ["a",""])
    // first segment anchored at start
    if (!path.startsWith(segs(0))) return false
    var pos = segs(0).length
    var i = 1
    while (i < segs.length) {
      val s = segs(i)
      if (i == segs.length - 1 && anchored) {
        // last segment must anchor at the end
        return path.length - pos >= s.length && path.endsWith(s)
      }
      if (s.isEmpty) {
        // '*' followed by nothing (or another '*') — matches rest
        if (i == segs.length - 1) return !anchored || pos <= path.length
      } else {
        val at = path.indexOf(s, pos)
        if (at < 0) return false
        pos = at + s.length
      }
      i += 1
    }
    if (anchored) pos == path.length else true
  }

  /** Parse the file into user-agent groups. Returns the rules that
    * apply to `agent` (specific groups if any exist, else the `*`
    * groups). */
  def applicableRules(robotsTxt: String, agent: String): Seq[Rule] = {
    if (robotsTxt == null) return Nil
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val specific = scala.collection.mutable.ArrayBuffer.empty[Rule]
    val generic = scala.collection.mutable.ArrayBuffer.empty[Rule]
    var inAgents = false     // currently reading a User-agent run
    var groupSpecific = false
    var groupGeneric = false
    robotsTxt.split("\n", -1).foreach { raw =>
      val noComment = raw.indexOf('#') match {
        case -1 => raw
        case ci => raw.substring(0, ci)
      }
      val line = noComment.trim
      if (line.nonEmpty) {
        val ci = line.indexOf(':')
        if (ci > 0) {
          val key = line.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(ci + 1).trim
          key match {
            case "user-agent" =>
              if (!inAgents) { groupSpecific = false; groupGeneric = false }
              inAgents = true
              val v = value.toLowerCase(java.util.Locale.ROOT)
              if (v == agentLc) groupSpecific = true
              else if (v == "*") groupGeneric = true
            case "allow" | "disallow" =>
              inAgents = false
              val rule = Rule(key == "allow", value)
              if (groupSpecific) specific += rule
              if (groupGeneric) generic += rule
            case _ => // unknown key (sitemap, crawl-delay, …): ignored.
              // RFC 9309 (and the Google reference parser): non-group
              // lines do NOT terminate a User-agent collection run —
              // only allow/disallow rules do. Leave inAgents untouched
              // so `User-agent: a / Sitemap: x / User-agent: b` keeps
              // collecting both agents into ONE group.
          }
        }
      }
    }
    if (specific.nonEmpty ||
        // a specific group with zero rules still overrides '*'
        robotsTxtNamesAgent(robotsTxt, agentLc)) specific.toSeq
    else generic.toSeq
  }

  /** Does any User-agent line name this agent exactly? (Needed to
    * distinguish "specific group exists but has no rules" — which
    * allows everything — from "no specific group" — which falls back
    * to `*`.) */
  private def robotsTxtNamesAgent(robotsTxt: String, agentLc: String): Boolean =
    robotsTxt.split("\n", -1).exists { raw =>
      val line = (raw.indexOf('#') match {
        case -1 => raw
        case ci => raw.substring(0, ci)
      }).trim
      val ci = line.indexOf(':')
      ci > 0 &&
        line.substring(0, ci).trim.equalsIgnoreCase("user-agent") &&
        line.substring(ci + 1).trim.equalsIgnoreCase(agentLc)
    }

  /** The decision: (allowed, winning pattern or "" when no rule
    * matched). Longest pattern wins; ties go to Allow. */
  def decide(robotsTxt: String, agent: String, path: String): (Boolean, String) = {
    var bestLen = -1
    var bestAllow = true
    var bestPattern = ""
    applicableRules(robotsTxt, agent).foreach { r =>
      if (r.pattern.nonEmpty && matches(r.pattern, path)) {
        val len = r.pattern.length
        if (len > bestLen || (len == bestLen && r.allow && !bestAllow)) {
          bestLen = len; bestAllow = r.allow; bestPattern = r.pattern
        }
      }
    }
    if (bestLen < 0) (true, "") else (bestAllow, bestPattern)
  }
}

/** `robots_decision(robots_txt, agent, path)` -> struct(allowed,
  * rule): RFC 9309 evaluation (see [[Robots]]); `rule` is the winning
  * pattern, '' when no rule matched. Null robots_txt means no
  * robots.txt was served — everything allowed. */
case class RobotsDecision(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("allowed", BooleanType), StructField("rule", StringType)))
  override def nullable: Boolean = false
  // null robots.txt is MEANINGFUL (no file -> allowed), so we cannot
  // use the null-skipping nullSafeEval path
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val txtA = first.eval(input)
    val agentA = second.eval(input)
    val pathA = third.eval(input)
    if (agentA == null || pathA == null)
      return new GenericInternalRow(Array[Any](true, UTF8String.fromString("")))
    val txt = if (txtA == null) null else txtA.asInstanceOf[UTF8String].toString
    val (allowed, rule) = Robots.decide(txt,
      agentA.asInstanceOf[UTF8String].toString,
      pathA.asInstanceOf[UTF8String].toString)
    new GenericInternalRow(Array[Any](allowed, UTF8String.fromString(rule)))
  }
  override def inputTypes = Seq(StringType, StringType, StringType)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): RobotsDecision = copy(first = f, second = s, third = t)
  override def prettyName: String = "robots_decision"
}

object robots {
  def robots_decision(robotsTxt: Column, agent: Column, path: Column): Column =
    ColumnBridge.column(RobotsDecision(ColumnBridge.expression(robotsTxt),
      ColumnBridge.expression(agent), ColumnBridge.expression(path)))
}
