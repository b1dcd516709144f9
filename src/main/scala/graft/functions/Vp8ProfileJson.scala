package graft.functions

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The user-facing injection path for VP8's appendix-DATA seam: a
  * [[Vp8.Profile]] constructed from a JSON document, so someone
  * holding RFC 6386's appendix tables (coefficient probabilities
  * §13.5 and their update-flag table §13.4, kf B_PRED submode
  * probabilities §11.4, MV context defaults and update-flag table
  * §17.2, mode contexts §17.3, dc/ac quantizer lookups §14.1) can
  * decode libvpx-encoded files WITHOUT recompiling — the value swap
  * the Profile seam promises, made reachable from the command line
  * ([[graft.RunDecode]]).
  *
  * Schema (all fields optional; absent fields keep the stand-in):
  * {{{
  * { "coeffProbs":       [[[[int×11]×3]×8]×4],
  *   "coeffUpdateProbs": [[[[int×11]×3]×8]×4],
  *   "bmodeProbs":       [[[int×9]×10]×10],
  *   "mvProbs":          [[int×19]×2],
  *   "mvUpdateProbs":    [[int×19]×2],
  *   "modeContexts":     [[int×4]×6],
  *   "dcQ": [int×128], "acQ": [int×128] }
  * }}}
  * Shape and range validation is [[Vp8.Profile]]'s own (probabilities
  * in [1, 254]); malformed documents fail loudly by field name. */
object Vp8ProfileJson {

  private def ints(v: JValue, field: String): Array[Int] = v match {
    case JArray(xs) => xs.map {
      case JInt(n) => n.toInt
      case other => throw new IllegalArgumentException(
        s"vp8 profile json: non-integer in $field: $other")
    }.toArray
    case other => throw new IllegalArgumentException(
      s"vp8 profile json: $field must be an array, got $other")
  }
  private def nest(v: JValue, field: String): List[JValue] = v match {
    case JArray(xs) => xs
    case other => throw new IllegalArgumentException(
      s"vp8 profile json: $field must be an array, got $other")
  }
  private def a2(v: JValue, f: String): Array[Array[Int]] =
    nest(v, f).map(x => ints(x, f)).toArray
  private def a3(v: JValue, f: String): Array[Array[Array[Int]]] =
    nest(v, f).map(x => a2(x, f)).toArray
  private def a4(v: JValue, f: String): Array[Array[Array[Array[Int]]]] =
    nest(v, f).map(x => a3(x, f)).toArray

  /** Parse a profile document; absent fields fall back to `base`
    * (default: the stand-in tables). */
  def parse(json: String, base: Vp8.Profile = Vp8.Profile.StandIn)
      : Vp8.Profile = {
    val j = JsonMethods.parse(json)
    def field(name: String): Option[JValue] = j \ name match {
      case JNothing | JNull => None
      case v => Some(v)
    }
    Vp8.Profile(
      coeffProbs = field("coeffProbs").map(a4(_, "coeffProbs"))
        .getOrElse(base.coeffProbs),
      bmodeProbs = field("bmodeProbs").map(a3(_, "bmodeProbs"))
        .getOrElse(base.bmodeProbs),
      mvProbs = field("mvProbs").map(a2(_, "mvProbs"))
        .getOrElse(base.mvProbs),
      modeContexts = field("modeContexts").map(a2(_, "modeContexts"))
        .getOrElse(base.modeContexts),
      dcQ = field("dcQ").map(ints(_, "dcQ")).getOrElse(base.dcQ),
      acQ = field("acQ").map(ints(_, "acQ")).getOrElse(base.acQ),
      coeffUpdateProbs = field("coeffUpdateProbs")
        .map(a4(_, "coeffUpdateProbs")).getOrElse(base.coeffUpdateProbs),
      mvUpdateProbs = field("mvUpdateProbs")
        .map(a2(_, "mvUpdateProbs")).getOrElse(base.mvUpdateProbs))
  }

  /** Render a profile back to its JSON document (round-trip tooling:
    * dump the stand-in, edit the tables in place, reload). */
  def render(p: Vp8.Profile): String = {
    def j1(a: Array[Int]): JValue = JArray(a.map(v => JInt(v): JValue).toList)
    def j2(a: Array[Array[Int]]): JValue = JArray(a.map(j1).toList)
    def j3(a: Array[Array[Array[Int]]]): JValue = JArray(a.map(j2).toList)
    def j4(a: Array[Array[Array[Array[Int]]]]): JValue =
      JArray(a.map(j3).toList)
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "coeffProbs" -> j4(p.coeffProbs),
      "coeffUpdateProbs" -> j4(p.coeffUpdateProbs),
      "bmodeProbs" -> j3(p.bmodeProbs),
      "mvProbs" -> j2(p.mvProbs),
      "mvUpdateProbs" -> j2(p.mvUpdateProbs),
      "modeContexts" -> j2(p.modeContexts),
      "dcQ" -> j1(p.dcQ),
      "acQ" -> j1(p.acQ)))))
  }
}
