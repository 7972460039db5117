package graft.api

import graft.model._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON request/response surface mirroring the reference's REST contract
  * (reference: Lucene.java:751-779 search endpoints; request parse
  * SearchBucket.java:126-153; result encode Lucene.java:1532-1570;
  * search_after token Lucene.java:1544-1561).
  *
  * Request shape:
  * {"query":{"text":"...","lower":"yyyyMMddHHmm","upper":"...",
  *           "filter":{"role":"assistant","tool":["bash","search"]}},
  *  "sort":"{\"ts\":\"desc\"}", "search_after":"{...}", "maxResults":10}
  *
  * The one JSON codec: requests, responses, facet documents, the index's
  * `meta.json`, checkpoint manifests, ANN metadata and the goldens are
  * json4s documents, rendered and read through this object.
  */
object Json {

  /** The one renderer: a document's compact text. */
  private def render(doc: JValue): String = JsonMethods.compact(JsonMethods.render(doc))

  def writeFile(path: String, doc: JValue): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(doc))

  def readFile(path: String): JValue =
    JsonMethods.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  /** The one value encoder. Numbers keep their `toString` digits — a
    * Float's shortest round-trip form, not its widened Double's — and a
    * null is JSON `null`; any other value travels as its string. */
  def encode(v: Any): JValue = v match {
    case null       => JNull
    case s: String  => JString(s)
    case b: Boolean => JBool(b)
    case d: Double  => JDouble(d)
    case n: Number  => JDecimal(BigDecimal(n.toString))
    case other      => JString(other.toString)
  }

  /** The one value decoder: a JSON scalar as a String, Long, Double or
    * Boolean, `null` (or an absent key) as null. Objects and arrays are
    * not values. */
  private def decode(v: JValue): Any = v match {
    case JString(s)       => s
    case JInt(i)          => i.toLong
    case JLong(l)         => l
    case JDouble(d)       => d
    case JDecimal(d)      => d.toDouble
    case JBool(b)         => b
    case JNull | JNothing => null
    case other            => sys.error(s"expected a JSON scalar, got ${render(other)}")
  }

  def long(v: JValue): Option[Long] = decode(v) match {
    case l: Long => Some(l)
    case _       => None
  }

  private def str(v: JValue): Option[String] = decode(v) match {
    case s: String => Some(s)
    case _         => None
  }

  /** `sort` and `search_after` travel as an object or as JSON text
    * wrapping one. */
  private def unwrap(v: JValue): JValue = v match {
    case JString(s) => if (s.trim.isEmpty) JNothing else JsonMethods.parse(s)
    case other      => other
  }

  def parseRequest(json: String): SearchRequest = {
    val root = JsonMethods.parse(json)
    val q = root \ "query"
    // a filter value compares as text: {"turn_idx":3} filters on "3"
    def filterValue(v: JValue): String = Option(decode(v)).map(_.toString).orNull
    val filter: Map[String, Seq[String]] = (q \ "filter") match {
      case JObject(fields) =>
        fields.map {
          case (k, JArray(vs)) => k -> vs.map(filterValue)
          case (k, v)          => k -> Seq(filterValue(v))
        }.toMap
      case _ => Map.empty
    }
    val sort = SortSpec(unwrap(root \ "sort") match {
      case JObject(fields) =>
        fields.map { case (f, dir) => (f, str(dir).forall(_.equalsIgnoreCase("asc"))) }
      case _ => Nil
    })
    val after: Option[AfterToken] = unwrap(root \ "search_after") match {
      case JNothing | JNull => None
      case tok =>
        val doc = long(tok \ "doc").getOrElse(sys.error("search_after.doc required"))
        val score = decode(tok \ "score") match {
          case n: Number => Some(n.floatValue)
          case _         => None
        }
        val fields = (tok \ "fields") match {
          case JArray(vs) => vs.map(decode)
          case _          => Nil
        }
        Some(AfterToken(doc, score, fields))
    }
    // joined-entity fetch option (the reference's fields[] analogue,
    // SearchBucket.java:755-778): {"joinFetch":{"key":"conv_id","limit":3}}
    val joinFetch: Option[JoinFetchSpec] = (root \ "joinFetch") match {
      case fetch: JObject =>
        str(fetch \ "key").map(JoinFetchSpec(_, long(fetch \ "limit").fold(100)(_.toInt)))
      case _ => None
    }
    SearchRequest(
      text = str(q \ "text"),
      filter = filter,
      lower = str(q \ "lower"),
      upper = str(q \ "upper"),
      sort = sort,
      searchAfter = after,
      maxResults = long(root \ "maxResults").fold(10)(_.toInt),
      joinFetch = joinFetch)
  }

  /** Parse the reference's facet-request `dimensions` array
    * (SearchBucket.java:687-747 parseDimensions):
    * `[{"dimension":"role"},
    *   {"dimension":"ts","ranges":[{"from":1,"to":2,"key":"lbl"}]}]`
    * → (string dimensions, range dimensions). Reference semantics kept:
    * a missing `from`/`to` defaults to Long.Min/MaxValue, the default
    * label is `"<from>-<to>"`, bounds are lower-inclusive
    * upper-exclusive (LongRange(label, lower, true, upper, false)), and
    * a `dimension` key is required. The JSON may be the whole search
    * request or just the object carrying `dimensions`. */
  def parseDimensions(json: String): (Seq[String], Seq[(String, Seq[(String, Long, Long)])]) = {
    val root = JsonMethods.parse(json)
    (root \ "dimensions") match {
      case JArray(dims) =>
        val parsed = dims.map { d =>
          val dim = str(d \ "dimension").getOrElse(
            sys.error(s"'dimension' not specified for facet request ${render(d)}"))
          val ranges = (d \ "ranges") match {
            case JArray(rs) => Some(rs.map { r =>
              val lo = long(r \ "from").getOrElse(Long.MinValue)
              val hi = long(r \ "to").getOrElse(Long.MaxValue)
              (str(r \ "key").getOrElse(s"$lo-$hi"), lo, hi)
            })
            case _ => None
          }
          (dim, ranges)
        }
        (parsed.collect { case (d, None) => d },
          parsed.collect { case (d, Some(rs)) => (d, rs) })
      case _ => (Nil, Nil)
    }
  }

  /** Response encode: hits with stored fields + the search_after token of
    * the last hit, mirroring the reference's {"results":[…],
    * "search_after":{…}} shape. */
  def renderResponse(resp: SearchResponse): String = {
    def stored(convId: String, turnIdx: Int, role: String, text: String,
               tool: Option[String], ts: java.sql.Timestamp): List[JField] = List(
      "conv_id" -> JString(convId), "turn_idx" -> JInt(turnIdx), "role" -> JString(role),
      "text" -> JString(text), "tool" -> encode(tool.orNull), "ts" -> JLong(ts.getTime))
    val hits = resp.hits.map { h =>
      // joined docs ride inline per hit, the reference's shape
      // (Lucene.java:869-901 embeds ≤100 joined documents in each result)
      val joined = resp.joined.get(h.docId).map(ds => "joined" -> JArray(ds.map(d =>
        JObject(("id" -> JLong(d.docId)) ::
          stored(d.conv_id, d.turn_idx, d.role, d.text, d.tool, d.ts))).toList))
      JObject(List[JField]("id" -> JLong(h.docId), "score" -> encode(h.score),
        "source" -> JObject(stored(h.conv_id, h.turn_idx, h.role, h.text, h.tool, h.ts))) ++
        joined)
    }
    val after = resp.searchAfter.fold[JValue](JNull) { a =>
      JObject(List[JField]("doc" -> JLong(a.docId)) ++ a.score.map(s => "score" -> encode(s)) ++
        Option.when(a.fields.nonEmpty)("fields" -> JArray(a.fields.map(encode).toList)))
    }
    render(JObject("results" -> JArray(hits.toList), "search_after" -> after))
  }

  /** Reference-shaped facet document:
    * {"aggregations":{dim:{"buckets":{label:{"doc_count":n}}}}}
    * for string dimensions (`labels`, in their order); range dimensions
    * (`ranges`: label, count, from, to) additionally carry the bucket's
    * bounds — {label:{"doc_count":n,"from":lo,"to":hi}} — mirroring the
    * reference's LongRange bucket serialization (FacetedDimension.java:70-88
    * adds `from`/`to` inside each range bucket). */
  def renderFacets(labels: Iterable[(String, Seq[(String, Long)])],
                   ranges: Seq[(String, Seq[(String, Long, Long, Long)])]): String = {
    def dim(name: String, buckets: Seq[JField]): JField =
      name -> JObject("buckets" -> JObject(buckets.toList))
    val strings = labels.map { case (d, ls) =>
      dim(d, ls.map { case (l, n) => l -> JObject("doc_count" -> JLong(n)) })
    }
    val bounded = ranges.map { case (d, rs) =>
      dim(d, rs.map { case (l, n, lo, hi) =>
        l -> JObject("doc_count" -> JLong(n), "from" -> JLong(lo), "to" -> JLong(hi))
      })
    }
    render(JObject("aggregations" -> JObject((strings ++ bounded).toList)))
  }
}
