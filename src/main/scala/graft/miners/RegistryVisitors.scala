package graft.miners

import org.json4s._
import org.json4s.jackson.JsonMethods

/** X1/S2 — the two highest-traffic frontier visitors: the npm
  * registry CouchDB `_changes` follower (`minecode/miners/npm.py`)
  * and the PyPI index/package/release visitors
  * (`minecode/miners/pypi.py`). Each parses one fetched payload into
  * the URIs to insert into the frontier, exactly as the reference's
  * `get_uris` does; the frontier loop itself is
  * [[graft.streaming.Frontier.visitCycle]].
  */
object RegistryVisitors {

  /** One yielded frontier URI — the reference's `URI` tuple fields
    * that carry information for these visitors
    * (`minecode/miners/__init__.py` URI namedtuple). */
  final case class VisitedUri(
      uri: String,
      sourceUri: String,
      packageUrl: Option[String] = None,
      data: Option[String] = None,
      visited: Boolean = false,
      fileName: Option[String] = None,
      size: Option[Long] = None,
      date: Option[String] = None,
      md5: Option[String] = None,
      sha1: Option[String] = None,
      sha256: Option[String] = None)

  /** purl for a pypi package: lowercase, `_` → `-`
    * (packageurl pypi normalization, seen in the reference's
    * `pypiindexvisitor-expected.json`: `0-._.-._.-0` →
    * `pkg:pypi/0-.-.-0`). */
  def pypiPurl(name: String, version: Option[String] = None): String =
    s"pkg:pypi/${name.toLowerCase.replace('_', '-')}" +
      version.map("@" + _).getOrElse("")

  /** purl for an npm package: names lowercase; scope kept with its
    * `@` percent-encoded in the namespace position (purl spec npm
    * examples). */
  def npmPurl(namespace: Option[String], name: String): String = {
    val ns = namespace.map(n =>
      n.toLowerCase.replace("@", "%40") + "/").getOrElse("")
    s"pkg:npm/$ns${name.toLowerCase}"
  }

  /** Split a possibly-scoped npm name `@scope/name` → (scope, name),
    * preserving case (the registry URI keeps the original case; only
    * the purl lowercases — `Reston` →
    * `https://registry.npmjs.org/Reston` + `pkg:npm/reston`). */
  def splitScopedName(name: String): (Option[String], String) =
    if (name.startsWith("@") && name.contains("/")) {
      val Array(scope, rest) = name.split("/", 2)
      (Some(scope), rest)
    } else (None, name)

  /** Registry metadata URL for a package; scoped packages encode the
    * scope separator (`@scope%2fname`). */
  def npmApiUrl(namespace: Option[String], name: String): String =
    namespace match {
      case Some(ns) => s"https://registry.npmjs.org/$ns%2f$name"
      case None     => s"https://registry.npmjs.org/$name"
    }

  /** npm `_changes` follower (`minecode/miners/npm.py:39-103`): yield
    * the next `_changes` URI at `last_seq` (so the index visit never
    * stops), then one pre-visited URI per package record carrying the
    * full version document (readme dropped — big and unused) as its
    * mapping payload. Non-package records (design documents) are
    * skipped. Missing `last_seq`/`results` is a hard error, matching
    * the reference's abort. */
  def npmRegistryUris(changesJson: String, sourceUri: String)
      : Either[String, Seq[VisitedUri]] = {
    val root = JsonMethods.parse(changesJson)
    val lastSeq = root \ "last_seq" match {
      case JInt(v)    => v.toString
      case JString(v) => v
      case _ =>
        return Left("NpmRegistryVisitor: Missing \"last_seq\" field: Aborting.")
    }
    val next = VisitedUri(
      uri = "https://replicate.npmjs.com/registry/_changes?" +
        s"include_docs=true&limit=1000&since=$lastSeq",
      sourceUri = sourceUri)
    val results = root \ "results" match {
      case JArray(rs) => rs
      case _ =>
        return Left("NpmRegistryVisitor: Missing \"results\" field: Aborting.")
    }
    val packages = results.flatMap { r =>
      r \ "doc" match {
        case doc: JObject =>
          val isPackageRecord =
            (doc \ "versions") != JNothing && (doc \ "name") != JNothing
          doc \ "name" match {
            case JString(rawName) if isPackageRecord =>
              val cleaned = JObject(doc.obj.filterNot(_._1 == "readme"))
              val (scope, name) = splitScopedName(rawName)
              Some(VisitedUri(
                uri = npmApiUrl(scope, name),
                sourceUri = sourceUri,
                packageUrl = Some(npmPurl(scope, name)),
                data = Some(JsonMethods.compact(JsonMethods.render(cleaned))),
                visited = true)) // nothing more to visit below this URI
            case _ => None
          }
        case _ => None
      }
    }
    Right(next +: packages)
  }

  /** PyPI index visitor (`minecode/miners/pypi.py:50-79`): one
    * package-metadata URI per name in the simple index list. */
  def pypiIndexUris(packageNames: Seq[String], sourceUri: String)
      : Seq[VisitedUri] =
    packageNames.map { name =>
      VisitedUri(
        uri = s"https://pypi.python.org/pypi/$name/json",
        sourceUri = sourceUri,
        packageUrl = Some(pypiPurl(name)))
    }

  /** PyPI package visitor (`minecode/miners/pypi.py:82-101`): one
    * release-metadata URI per release of one package. */
  def pypiPackageUris(packageJson: String, sourceUri: String)
      : Seq[VisitedUri] = {
    val root = JsonMethods.parse(packageJson)
    val name = root \ "info" \ "name" match {
      case JString(n) => n
      case _          => return Seq.empty
    }
    root \ "releases" match {
      case JObject(fields) => fields.map { case (release, _) =>
        VisitedUri(
          uri = s"https://pypi.python.org/pypi/$name/$release/json",
          sourceUri = sourceUri,
          packageUrl = Some(pypiPurl(name, Some(release))))
      }
      case _ => Seq.empty
    }
  }

  /** PyPI release visitor (`minecode/miners/pypi.py:104-142`): one
    * download URI per archive of one release — the off-PyPI
    * `download_url` when present (with the reference's quirk of only
    * resolving `version` on that path), then the `urls` block with
    * file name, size, upload date and digests. */
  def pypiReleaseUris(releaseJson: String, sourceUri: String)
      : Seq[VisitedUri] = {
    val root = JsonMethods.parse(releaseJson)
    val info = root \ "info"
    val name = info \ "name" match {
      case JString(n) => n
      case _          => null
    }
    var version: Option[String] = None
    val offPypi = info \ "download_url" match {
      case JString(u) if u.nonEmpty && u != "UNKNOWN" =>
        version = info \ "version" match {
          case JString(v) => Some(v)
          case _          => None
        }
        Seq(VisitedUri(uri = u, sourceUri = sourceUri,
          packageUrl = Some(pypiPurl(name, version))))
      case _ => Seq.empty
    }
    val urls = root \ "urls" match {
      case JArray(ds) => ds.flatMap { d =>
        d \ "url" match {
          case JString(u) if u.nonEmpty =>
            Some(VisitedUri(
              uri = u,
              sourceUri = sourceUri,
              packageUrl = Some(pypiPurl(name, version)),
              fileName = d \ "filename" match {
                case JString(f) => Some(f); case _ => None
              },
              size = d \ "size" match {
                case JInt(s) => Some(s.toLong); case _ => None
              },
              date = d \ "upload_time" match {
                case JString(t) => Some(t); case _ => None
              },
              md5 = d \ "md5_digest" match {
                case JString(m) => Some(m); case _ => None
              },
              sha256 = d \ "digests" \ "sha256" match {
                case JString(s) => Some(s); case _ => None
              }))
          case _ => None
        }
      }
      case _ => Seq.empty
    }
    offPypi ++ urls
  }

  /** Adapt a registry payload parser into a [[Frontier.Visitor]] for
    * the streaming visit loop: fetch via the injected transport,
    * yield the parsed URIs (fetch/parse errors yield nothing — the
    * frontier marks the row visited with no children, as the
    * reference records a visit_error). */
  def frontierVisitor(transport: Transport)(
      parse: (String, String) => Either[String, Seq[VisitedUri]])
      : graft.streaming.Frontier.Visitor =
    uri => transport.fetch(uri) match {
      case Right(bytes) =>
        parse(new String(bytes, "UTF-8"), uri)
          .getOrElse(Seq.empty).map(_.uri)
      case Left(_) => Seq.empty
    }

  /** The npm `_changes` follower as a frontier visitor. */
  def npmFrontierVisitor(transport: Transport)
      : graft.streaming.Frontier.Visitor =
    frontierVisitor(transport)(npmRegistryUris)
}
