package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.MemberBloom
import graft.sources.{GraftCatalogTable, MemberProbes}

/** MEMBERSHIP-probe pushdown for graft catalog scans: Spark's V2 filter
  * translation has no rendering for `array_contains` / map-key access,
  * so the daily LLM-curation filter `WHERE array_contains(tags, 'en')`
  * would read every file of a 100 TB table no matter what the manifests
  * know. This rule closes the gap through a side channel: when a Filter
  * sits on a graft relation, its top-level membership conjuncts are
  * encoded into the relation's scan OPTIONS — the Filter node itself
  * stays in the plan and Spark still applies it row-by-row, while the
  * scan builder uses the probes only to SKIP files whose commit-time
  * element blooms positively exclude the key. Results can never depend on the probe.
  *
  * Conjuncts recognized (all imply "the key is an element / a map key
  * of the column" whenever the conjunct evaluates TRUE):
  *  - `array_contains(col, lit)` over an ARRAY column
  *  - `array_contains(map_keys(col), lit)` over a MAP column
  *  - `col[lit] IS NOT NULL` and `col[lit] = x` / `x = col[lit]` over a
  *    MAP column (GetMapValue of an absent key is NULL, so a TRUE
  *    comparison requires the key present)
  *  - `arrays_overlap(col, array(k1, k2, …))` (either argument order) —
  *    the IN-list of membership: TRUE requires a COMMON NON-NULL
  *    element, so at least one literal key must be present and the
  *    probe is the DISJUNCTIVE group of their hashes (a file drops only
  *    when its bloom excludes every one)
  * Literals hash by their COERCED type (string / integral — matching
  * the commit-side bloom's element hashing); anything else declines —
  * including any group containing an unhashable or null element (a
  * partial group would over-prune).
  */
object PushMembershipProbes extends Rule[LogicalPlan] with PredicateHelper {

  private val OptKey = "graft.member-probes"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, r: DataSourceV2Relation)
        if r.table.isInstanceOf[GraftCatalogTable] &&
          r.options.get(OptKey) == null =>
      val top = r.output.map(a => a.exprId -> a.name).toMap
      val probes = splitConjunctivePredicates(cond)
        .flatMap(probeOf(top, _)).distinct
      if (probes.isEmpty) f
      else {
        val m = new java.util.HashMap[String, String](r.options.asCaseSensitiveMap())
        m.put(OptKey, MemberProbes.encode(probes))
        f.copy(child = r.copy(options = new CaseInsensitiveStringMap(m)))
      }
  }

  private def hashLit(v: Any, dt: DataType): Option[Long] =
    if (v == null) None
    else dt match {
      case StringType  => Some(MemberBloom.hashUtf8(v.asInstanceOf[UTF8String]))
      case LongType    => Some(MemberBloom.hashLong(v.asInstanceOf[Long]))
      case IntegerType => Some(MemberBloom.hashLong(v.asInstanceOf[Int].toLong))
      case ShortType   => Some(MemberBloom.hashLong(v.asInstanceOf[Short].toLong))
      case ByteType    => Some(MemberBloom.hashLong(v.asInstanceOf[Byte].toLong))
      case _           => None
    }

  private def probeOf(
      top: Map[ExprId, String], e: Expression): Option[(String, Seq[Long])] = {
    // a membership column may be a TOP-LEVEL attribute or a STRUCT-LEAF
    // access chain (array_contains(meta.tags, 'en')): GetStructField
    // chains over relation output render as the dotted leaf name the
    // commit-side blooms record (the Filter sits directly on the
    // relation, so its attributes ARE relation output — no alias map
    // needed)
    def col(a: Expression): Option[String] = a match {
      case ar: AttributeReference => top.get(ar.exprId)
      case g: GetStructField =>
        col(g.child).map(p => s"$p.${g.extractFieldName}")
      case _                      => None
    }
    def keyProbe(m: Expression, k: Literal): Option[(String, Seq[Long])] =
      for { c <- col(m); h <- hashLit(k.value, k.dataType) } yield c -> Seq(h)
    // a LITERAL array's non-null element hashes — None unless every
    // non-null element hashes (a partially-hashed group would
    // over-prune) and at least one element is non-null (arrays_overlap
    // cannot be TRUE against an all-null/empty literal side)
    def groupOf(l: Literal): Option[Seq[Long]] = (l.value, l.dataType) match {
      case (arr: org.apache.spark.sql.catalyst.util.ArrayData,
            ArrayType(et, _)) =>
        val vs = (0 until arr.numElements())
          .filterNot(arr.isNullAt).map(i => arr.get(i, et))
        val hs = vs.map(hashLit(_, et))
        if (hs.isEmpty || hs.exists(_.isEmpty)) None else Some(hs.flatten)
      case _ => None
    }
    e match {
      case ArrayContains(a, l: Literal) => col(a) match {
        case Some(c) => hashLit(l.value, l.dataType).map(h => c -> Seq(h))
        case None => a match { // array_contains(map_keys(m), k)
          case MapKeys(mc) =>
            for { c <- col(mc); h <- hashLit(l.value, l.dataType) }
              yield c -> Seq(h)
          case _ => None
        }
      }
      case ArraysOverlap(a, l: Literal) =>
        for { c <- col(a); hs <- groupOf(l) } yield c -> hs
      case ArraysOverlap(l: Literal, a) =>
        for { c <- col(a); hs <- groupOf(l) } yield c -> hs
      case IsNotNull(GetMapValue(m, k: Literal)) => keyProbe(m, k)
      case EqualTo(GetMapValue(m, k: Literal), _: Literal) => keyProbe(m, k)
      case EqualTo(_: Literal, GetMapValue(m, k: Literal)) => keyProbe(m, k)
      // element_at / try_element_at on a MAP (Spark 4 returns NULL on a
      // missing key in every mode — verified on 4.1.2 — so a TRUE
      // comparison still requires the key present). map_contains_key
      // needs no case: RuntimeReplaceable into array_contains(map_keys)
      // before this rule runs.
      case IsNotNull(ElementAt(m, k: Literal, _, _))
          if m.dataType.isInstanceOf[MapType] => keyProbe(m, k)
      case EqualTo(ElementAt(m, k: Literal, _, _), _: Literal)
          if m.dataType.isInstanceOf[MapType] => keyProbe(m, k)
      case EqualTo(_: Literal, ElementAt(m, k: Literal, _, _))
          if m.dataType.isInstanceOf[MapType] => keyProbe(m, k)
      case _ => None
    }
  }
}
