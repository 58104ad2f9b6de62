package graft.kql

/** Nearest-candidate naming for unknown-identifier errors (r5 verdict
  * task 8): a misspelled operator / function / column / plugin error
  * should tell the user what they probably meant, not just dump the
  * universe. Plain Levenshtein with a length-scaled cutoff — the
  * registry sizes involved (≤ ~600 function names) make the linear scan
  * free next to a planning pass, and errors are cold paths anyway. */
object Suggest {

  /** The closest candidate within edit distance max(2, |name|/3), if
    * any. Ties break lexicographically so messages are deterministic. */
  def nearest(name: String, candidates: Iterable[String]): Option[String] = {
    if (candidates.isEmpty) return None
    val n = name.toLowerCase
    val cutoff = math.max(2, n.length / 3)
    var best: String = null
    var bestD = Int.MaxValue
    candidates.foreach { c =>
      val d = dist(n, c.toLowerCase, cutoff)
      if (d < bestD || (d == bestD && best != null && c < best)) {
        best = c; bestD = d
      }
    }
    if (bestD <= cutoff) Some(best) else None
  }

  /** " — did you mean 'x'?" or "" when nothing is close. */
  def hint(name: String, candidates: Iterable[String]): String =
    nearest(name, candidates).map(c => s" — did you mean '$c'?").getOrElse("")

  /** Levenshtein distance, banded: returns cutoff+1 early when the
    * distance provably exceeds the cutoff (length gap, or every cell of
    * a row over the cutoff). */
  private def dist(a: String, b: String, cutoff: Int): Int = {
    if (math.abs(a.length - b.length) > cutoff) return cutoff + 1
    if (a == b) return 0
    var prev = Array.tabulate(b.length + 1)(identity)
    var curr = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      curr(0) = i
      var rowMin = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        curr(j) = math.min(math.min(curr(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (curr(j) < rowMin) rowMin = curr(j)
        j += 1
      }
      if (rowMin > cutoff) return cutoff + 1
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(b.length)
  }

  /** The tabular-operator keywords Parser accepts — kept next to the
    * suggester so the unknown-operator error can name a neighbour. */
  val operators: Seq[String] = Seq(
    "where", "filter", "project", "extend", "project-away", "project-keep",
    "project-rename", "project-reorder", "summarize", "sort", "order",
    "take", "limit", "top", "top-hitters", "top-nested", "distinct",
    "count", "join", "lookup", "union", "mv-apply", "mv-expand",
    "mv-combine", "as", "parse", "parse-where", "parse-kv", "getschema",
    "serialize", "consume", "fork", "facet", "scan", "render", "sample",
    "sample-distinct", "search", "make-series", "make-graph",
    "graph-match", "graph-shortest-paths", "graph-to-table",
    "graph-mark-components", "invoke",
    "reduce", "partition", "evaluate")

  /** Functions a Kusto user could legitimately type that this engine
    * DELIBERATELY does not build, each with the remedy (the only two
    * declared-out-of-scope KQL-surface families). A loud, specific
    * refusal beats a generic unknown-name error: the user learns the
    * decision and the shipped alternative, not "typo?". */
  val unsupported: Map[String, String] = {
    val h3 = "H3 cells need Uber's H3 library (not available in this " +
      "environment); use geo_point_to_geohash or geo_point_to_s2cell — " +
      "both shipped, same spatial-bucketing role"
    val principal = "security-principal functions need a connected " +
      "cluster's authentication context; this engine executes without " +
      "an auth concept"
    Map(
      "geo_point_to_h3cell" -> h3,
      "geo_h3cell_to_central_point" -> h3,
      "geo_h3cell_to_polygon" -> h3,
      "geo_h3cell_children" -> h3,
      "geo_h3cell_parent" -> h3,
      "geo_h3cell_level" -> h3,
      "geo_h3cell_neighbors" -> h3,
      "geo_h3cell_rings" -> h3,
      "geo_polygon_to_h3cells" -> h3,
      "current_principal" -> principal,
      "current_principal_details" -> principal,
      "current_principal_is_member_of" -> principal)
  }
}
