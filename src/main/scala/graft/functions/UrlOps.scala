package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** URL parameter extraction with the reference's exact delimiter rules
  * (src/Functions/URL/extractURLParameters.cpp): parameters begin after
  * the FIRST `?` (or, when there is no `?`, the first `#`); segments
  * split on `&`, `#` and a later `?`; a segment introduced by `#` only
  * counts when it carries `=` (a bare fragment is not a parameter, but
  * a bare `?a` query name is).
  */
object UrlOps {

  def params(url: UTF8String): ArrayData = {
    val s = url.toString
    var start = s.indexOf('?')
    if (start < 0) start = s.indexOf('#')
    if (start < 0) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var i = start
    while (i < s.length) {
      val delim = s.charAt(i)
      var j = i + 1
      while (j < s.length && s.charAt(j) != '&' && s.charAt(j) != '#' &&
        s.charAt(j) != '?') j += 1
      val seg = s.substring(i + 1, j)
      // a `#`-introduced BARE segment (no `=`) is a plain fragment
      // unless an `&` continues the parameter run right after it
      // (pinned by the reference's own 00296_url_parameters outputs)
      if (seg.nonEmpty && !(delim == '#' && !seg.contains('=') &&
          !(j < s.length && s.charAt(j) == '&')))
        out += UTF8String.fromString(seg)
      i = j
    }
    new GenericArrayData(out.toArray)
  }

  /** extractURLParameter: the value of `name=…` (or '' for a bare name
    * or a miss — the reference returns empty, never NULL).
    */
  def param(url: UTF8String, name: UTF8String): UTF8String = {
    val a = params(url)
    val n = name.toString
    var k = 0
    while (k < a.numElements()) {
      val t = a.getUTF8String(k).toString
      if (t == n) return UTF8String.EMPTY_UTF8
      if (t.length > n.length && t.startsWith(n) && t.charAt(n.length) == '=')
        return UTF8String.fromString(t.substring(n.length + 1))
      k += 1
    }
    UTF8String.EMPTY_UTF8
  }

  /** cutURLParameter: removes the `name=value` occurrence plus one
    * adjoining `&` (trailing preferred); bare `name` segments are NOT
    * parameters for cutting (both pinned by 00296's golden outputs and
    * the reference's two-case removal in cutURLParameter.cpp).
    */
  def cutParam(url: UTF8String, name: UTF8String): UTF8String = {
    val s = url.toString
    val n = name.toString
    var qs = s.indexOf('?')
    if (qs < 0) qs = s.indexOf('#')
    if (qs < 0) return url
    var i = qs
    while (i < s.length) {
      var j = i + 1
      while (j < s.length && s.charAt(j) != '&' && s.charAt(j) != '#' &&
        s.charAt(j) != '?') j += 1
      val seg = s.substring(i + 1, j)
      if (seg.length > n.length && seg.startsWith(n) &&
          seg.charAt(n.length) == '=') {
        var start = i + 1
        var end = j
        if (end < s.length && s.charAt(end) == '&') end += 1
        else if (s.charAt(start - 1) == '&') start -= 1
        return UTF8String.fromString(s.substring(0, start) + s.substring(end))
      }
      i = j
    }
    url
  }
}
