#!/usr/bin/env python3
"""Generate graft's RouteRegistry from the reference's route registrations.

Walks /root/reference/minecode/{miners,collectors}/*.py for active
`@<x>_router.route(...)` decorators (ast-based, so string literals are
decoded exactly as Python would at runtime, and the two splat
registrations resolve through their module-level lists), then emits:

  src/main/scala/graft/miners/RouteRegistry.scala  (pattern, handler)
  tools/route_fixture.json   template URIs + python-re dispatch outcome

The fixture is the cross-engine guard: ScalaTest asserts the Java-regex
Router reproduces python-re's dispatch on every template, and the
x3_route_dispatch oracle re-derives the same dispatch in DuckDB (RE2).

Usage: python3 tools/gen_routes.py
"""
import ast
import json
import re
import sys
from pathlib import Path

REF = Path("/root/reference/minecode")
OUT_SCALA = Path("src/main/scala/graft/miners/RouteRegistry.scala")
OUT_FIXTURE = Path("tools/route_fixture.json")


def module_literals(tree):
    """Module-level str-list/tuple assignments (for splat resolution)."""
    out = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1 and \
                isinstance(node.targets[0], ast.Name):
            try:
                val = ast.literal_eval(node.value)
            except (ValueError, TypeError):
                continue
            if isinstance(val, (list, tuple)) and \
                    all(isinstance(v, str) for v in val):
                out[node.targets[0].id] = list(val)
    return out


def extract(path: Path):
    """Yield (router, pattern, handler, line) per registered pattern."""
    tree = ast.parse(path.read_text())
    lits = module_literals(tree)
    mod = path.stem
    for node in ast.walk(tree):
        if not isinstance(node, (ast.ClassDef, ast.FunctionDef)):
            continue
        for dec in node.decorator_list:
            if not (isinstance(dec, ast.Call) and
                    isinstance(dec.func, ast.Attribute) and
                    dec.func.attr == "route" and
                    isinstance(dec.func.value, ast.Name) and
                    dec.func.value.id.endswith("_router")):
                continue
            router = dec.func.value.id[:-len("_router")]
            for arg in dec.args:
                if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                    yield router, arg.value, f"{mod}.{node.name}", dec.lineno
                elif isinstance(arg, ast.Starred) and \
                        isinstance(arg.value, ast.Name):
                    for pat in lits[arg.value.id]:
                        yield router, pat, f"{mod}.{node.name}", dec.lineno
                else:
                    raise SystemExit(f"unhandled route arg in {path}:{dec.lineno}")


def collect_registrations():
    regs = {"visit": [], "map": [], "priority": []}
    for sub in ("miners", "collectors"):
        for path in sorted((REF / sub).glob("*.py")):
            if path.stem.startswith("test") or path.stem == "__init__":
                continue
            for router, pat, handler, line in extract(path):
                regs[router].append(
                    {"pattern": pat, "handler": handler,
                     "src": f"minecode/{sub}/{path.name}:{line}"})
    return regs


# Template URIs (#K# is replaced by a part key). Coverage goal: every
# router exercised on ok / no_route / ambiguous branches, and as many
# distinct patterns as practical matched at least once.
TEMPLATES = [
    # --- priority router: one purl per collector ecosystem ---
    "pkg:apk/alpine/curl@8.0.#K#",
    "pkg:alpm/arch/pacman@6.0.#K#",
    "pkg:cargo/serde@1.0.#K#",
    "pkg:composer/laravel/framework@10.#K#",
    "pkg:conan/zlib@1.3.#K#",
    "pkg:conda/numpy@1.26.#K#",
    "pkg:cpan/Moose@2.#K#",
    "pkg:cran/ggplot2@3.4.#K#",
    "pkg:deb/debian/curl@7.88.#K#",
    "pkg:docker/library/nginx@1.2#K#",
    "pkg:generic/xz@5.4.#K#?download_url=https://tukaani.org/xz/xz-5.4.tar.gz",
    "pkg:generic/busybox@1.36.#K#",
    "pkg:generic/busybox@1.36.#K#?download_url=https://busybox.net/bb.tar.bz2",
    "pkg:github/torvalds/linux@6.#K#",
    "pkg:gnu/gmp@6.2.#K#",
    "pkg:golang/github.com/gorilla/mux@1.8.#K#",
    "pkg:hackage/aeson@2.1.#K#",
    "pkg:hex/phoenix@1.7.#K#",
    "pkg:huggingface/distilbert-base-uncased@#K#",
    "pkg:luarocks/luasocket@3.#K#",
    "pkg:maven/org.apache.commons/commons-lang3@3.#K#",
    "pkg:nix/nixpkgs/hello@2.#K#",
    "pkg:nix/other/hello@2.#K#",
    "pkg:npm/lodash@4.17.#K#",
    "pkg:nuget/Newtonsoft.Json@13.0.#K#",
    "pkg:openssl/openssl@3.0.#K#",
    "pkg:pub/flutter_bloc@8.#K#",
    "pkg:pypi/requests@2.31.#K#",
    "pkg:gem/rails@7.0.#K#",
    "pkg:swift/github.com/apple/swift-nio@2.#K#",
    "pkg:fdroid/org.fdroid.fdroid@1.#K#",
    "pkg:brew/wget@1.#K#",
    # --- visit router ---
    "https://apache.org/dist/zzz/find-ls.gz",
    "https://archive.apache.org/dist/tomcat/tomcat-9/v9.0.#K#/sig.sha512",
    "https://api.bitbucket.org/2.0/repositories?pagelen=#K#",
    "https://api.bitbucket.org/2.0/repositories/owner#K#/repo",
    "https://api.bitbucket.org/2.0/repositories/o/r/refs/tags?page=#K#",
    "https://api.bitbucket.org/2.0/repositories/o/r/commits?page=#K#",
    "https://registry.bower.io/packages",
    "https://raw.githubusercontent.com/user#K#/proj/master/bower.json",
    "https://lolg.it/group#K#/proj/master/bower.json",
    "https://fastapi.metacpan.org/author/_search?q=email:b*&size=5000",
    "https://fastapi.metacpan.org/release/_search?q=author:AUTH#K#&size=5000",
    "http://www.cpan.org/modules/01modules.index.html",
    "http://www.cpan.org/authors/id/A#K#/",
    "http://www.cpan.org/authors/Dist-#K#.meta",
    "http://www.cpan.org/authors/Dist-#K#.readme",
    "https://cloud.r-project.org/web/packages/available_packages_by_date.html",
    "https://cloud.r-project.org/web/packages/a/index.html",
    "http://ftp.debian.org/debian/ls-lR.gz",
    "http://ftp.de.debian.org/debian/ls-lR.gz",
    "http://mirror#K#.example.org/ubuntu/ls-lR.gz",
    "http://ftp.de.debian.org/ubuntu/ls-lR.gz",
    "http://ftp.debian.org/debian/dists/sid/main/source/Sources.gz",
    "http://ftp.debian.org/debian/dists/sid/main/binary-amd64/Packages.gz",
    "http://ftp.debian.org/debian/pool/main/c/curl/curl_7.#K#.dsc",
    "http://ftp.debian.org/debian/dists/sid/Release",
    "http://ftp.debian.org/debian/dists/x#K#.zip",
    "https://hub.docker.com/explore/?page=#K#",
    "https://hub.docker.com/_/nginx#K#/",
    "https://registry.hub.docker.com/v2/repositories/library/redis#K#/",
    "https://index.docker.io/v1/search?q=ab&n=100&page=#K#",
    "https://projects.eclipse.org/list-of-projects",
    "https://projects.eclipse.org/projects/technology.dash#K#",
    "http://git.eclipse.org/c",
    "http://www.eclipse.org/downloads/packages/all",
    "http://www.eclipse.org/downloads/packages/release/juno/sr#K#",
    "http://projects.eclipse.org/json/projects/all",
    "http://projects.eclipse.org/json/project/tech#K#",
    "https://f-droid.org/repo/index-v2.json",
    "https://pkg.freebsd.org",
    "https://pkg.freebsd.org/FreeBSD:13:amd64/latest/",
    "https://pkg.freebsd.org/FreeBSD:#K#:amd64/latest/packagesite.txz",
    "https://www.freedesktop.org/wiki/Software",
    "https://www.freedesktop.org/wiki/Software/cairo#K#",
    "https://api.github.com/repositories?since=#K#",
    "https://api.github.com/repos/user#K#/repo.name",
    "https://gitlab.com/api/v4/projects",
    "https://gitlab.com/api/v4/projects?page=#K#&per_page=70&statistics=true",
    "https://api.godoc.org/packages",
    "https://api.godoc.org/search?q=mux#K#",
    "https://storage.googleapis.com/google-code-archive/google-code-archive.txt.zip",
    "https://www.googleapis.com/storage/v1/b/google-code-archive/o/v2-p#K#-project.json?alt=media",
    "https://code.google.com/archive/search?q=domain:code.google.com",
    "https://code.google.com/archive/search?q=domain:code.google.com&page=#K#",
    "https://storage.googleapis.com/google-code-archive/v2/code.google.com/proj#K#/project.json",
    "https://storage.googleapis.com/google-code-archive/v2/code.google.com/p/downloads-page-#K#.json",
    "https://gstreamer.freedesktop.org/src/gst-plugins-base#K#/",
    "https://gstreamer.freedesktop.org/src/gst-plugins/gst-#K#z",
    "https://lib.haxe.org/all",
    "https://lib.haxe.org/p/hxcpp#K#/versions",
    "https://lib.haxe.org/p/hxlib/4.#K#/raw-files/hxlib/package.json",
    "http://repo1.maven.org/maven2/.index/nexus-maven-repository-index.properties",
    "https://repo1.maven.org/maven2/.index/nexus-maven-repository-index.properties",
    "https://repo1.maven.org/maven2/.index/nexus-maven-repository-index.gz",
    "https://repo1.maven.org/maven2/.index/nexus-maven-repository-index.#K#.gz",
    "https://jcenter.bintray.com/org/apache/lib#K#/",
    "https://repo.maven.apache.org/maven2/org/x#K#/maven-metadata.xml",
    "https://repo1.maven.org/maven2/junit/junit/4.#K#/junit-4.pom",
    "maven-index://repo1.maven.org/part#K#",
    "https://replicate.npmjs.com/registry/_changes?include_docs=true&limit=#K#&since=0",
    "https://registry.npmjs.org/lodash#K#",
    "https://api-v2v3search-0.nuget.org/query",
    "https://api-v2v3search-0.nuget.org/query?skip=#K#",
    "https://api.nuget.org/v3/catalog0/data/page#K#.json",
    "https://api.nuget.org/packages/newtonsoft.json.13.0.#K#.nupkg",
    "https://www.nuget.org/packages?page=#K#",
    "https://www.nuget.org/packages/Humanizer#K#",
    "https://ftp.openssl.org/",
    "https://ftp.openssl.org/source/old/1.1.#K#/",
    "https://ftp.openssl.org/source/openssl-3.0.#K#.tar.gz",
    "https://downloads.openwrt.org/releases/23.05.#K#/targets/",
    "https://downloads.openwrt.org/releases/#K#/packages/Packages.gz",
    "https://downloads.openwrt.org/releases/#K#/packages/luci.ipk",
    "https://packagist.org/packages/list.json",
    "https://packagist.org/p/vendor#K#/pkg.json",
    "https://pypi.python.org/pypi/",
    "https://pypi.python.org/pypi/requests#K#/json",
    "https://pypi.python.org/pypi/requests/2.#K#/json",
    "http://mirrors.kernel.org/centos/#K#/os/x86_64/repodata/repomd.xml",
    "rsync://mirrors.kernel.org/centos/",
    "rsync://yum.postgresql.org",
    "https://rubygems.org/specs.4.8.gz",
    "https://rubygems.org/api/v1/versions/rails#K#.json",
    "https://rubygems.org/downloads/rails-7.0.#K#.gem",
    "https://sourceforge.net/sitemap.xml",
    "https://sourceforge.net/sitemap-#K#.xml",
    "https://sourceforge.net/api/project/name/proj-#K#/json",
    "https://sourceforge.net/rest/p/proj#K#",
    # --- map-router-leaning and shared URIs ---
    "https://archive.apache.org/dist/httpd/httpd-2.4.#K#.tar.gz",
    "http://apache.org/dist/httpd/httpd-2.4.#K#.tar.gz",
    "https://api.bitbucket.org/2.0/repositories/owner#K#/repo/downloads/",
    "https://ftp.openssl.org/source/openssl-1.1.#K#w.tar.gz",
    # --- unroutable everywhere ---
    "https://example.org/nothing/#K#",
    "ftp://mirror.example.net/pub/file-#K#.tar.gz",
]


def dispatch(regs, uri):
    """python-re dispatch outcome per router, mirroring route.py:169-200:
    full match via ^pat$, 0 hits -> no_route, >1 -> ambiguous."""
    out = {}
    for router, entries in regs.items():
        hits = [e for e in entries
                if re.match("^" + e["pattern"] + "$", uri)]
        status = ("no_route" if not hits
                  else "ok" if len(hits) == 1 else "ambiguous")
        out[router] = {
            "n_matches": len(hits),
            "handler": hits[0]["handler"] if len(hits) == 1 else None,
            "status": status,
        }
    return out


def scala_literal(s: str) -> str:
    if '"""' in s or s.endswith('"'):
        raise SystemExit(f"pattern needs manual escaping: {s!r}")
    return f'"""{s}"""'


def emit_scala(regs):
    lines = []
    w = lines.append
    w("package graft.miners")
    w("")
    w("// GENERATED by tools/gen_routes.py — do not edit by hand.")
    w("/** X3 — the reference's three route registries, one (pattern,")
    w("  * handler) entry per active `@<x>_router.route(...)` registration")
    w("  * in `minecode/miners/` and `minecode/collectors/` (decorator")
    w("  * source cited per entry; splat registrations resolved through")
    w("  * their module lists: `minecode/collectors/generic.py:148-183`,")
    w("  * `minecode/miners/repodata_rpms.py:16-47`). Pattern semantics")
    w("  * are `minecode/route.py:55-66`: the regex must match the whole")
    w("  * URI. Handlers are named `module.Endpoint` as in Rule.__repr__.")
    w("  *")
    w("  * The registries drive [[Router]] dispatch (resolve: exactly one")
    w("  * match, `route.py:161-185`; prefix-pruned, see Router's docs)")
    w("  * and the frontier's is_visitable / is_mappable flags")
    w("  * (`minecode/models.py:482-483`) through the same Router via the")
    w("  * [[graft.functions.UriRoutable]] codegen expression")
    w("  * ([[graft.streaming.Frontier.withRoutability]]); the anchored")
    w("  * `^(p1|p2|...)$` alternation of `route.py:187-200` remains")
    w("  * available through [[alternation]] as the reference-shaped")
    w("  * baseline.")
    w("  */")
    w("object RouteRegistry {")
    for router in ("visit", "map", "priority"):
        w("")
        w(f"  /** ({len(regs[router])} patterns, registration order) */")
        w(f"  val {router}: Vector[(String, String)] = Vector(")
        for e in regs[router]:
            w(f"    // {e['src']}")
            w(f"    ({scala_literal(e['pattern'])}, \"{e['handler']}\"),")
        lines[-1] = lines[-1].rstrip(",")
        w("  )")
    w("")
    w("  lazy val visitRouter: Router[String] =")
    w("    new Router(visit.map { case (p, h) => (p.r, h) })")
    w("  lazy val mapRouter: Router[String] =")
    w("    new Router(map.map { case (p, h) => (p.r, h) })")
    w("  lazy val priorityRouter: Router[String] =")
    w("    new Router(priority.map { case (p, h) => (p.r, h) })")
    w("")
    w("  def router(name: String): Router[String] = name match {")
    w('    case "visit"    => visitRouter')
    w('    case "map"      => mapRouter')
    w('    case "priority" => priorityRouter')
    w("  }")
    w("")
    w("  /** `route.py:187-200` — the is_routable alternation, anchored. */")
    w("  def alternation(entries: Vector[(String, String)]): String =")
    w('    entries.map { case (p, _) => s"(?:$p)" }.mkString("^(", "|", ")$")')
    w("")
    w("  /** Deterministic dispatch-corpus templates for x3_route_dispatch")
    w("    * (#K# is substituted with a part key; python-re outcomes for")
    w("    * these live in tools/route_fixture.json). */")
    w("  val templates: Vector[String] = Vector(")
    for t in TEMPLATES:
        w(f"    {scala_literal(t)},")
    lines[-1] = lines[-1].rstrip(",")
    w("  )")
    w("}")
    OUT_SCALA.write_text("\n".join(lines) + "\n")


def main():
    regs = collect_registrations()
    for router, entries in regs.items():
        pats = [e["pattern"] for e in entries]
        assert len(pats) == len(set(pats)), f"duplicate pattern in {router}"
    counts = {r: len(v) for r, v in regs.items()}
    print("registrations:", counts, "total", sum(counts.values()))
    emit_scala(regs)

    # fixture: dispatch every template at two sample keys
    fixture = []
    matched = {r: set() for r in regs}
    for tpl in TEMPLATES:
        for k in (7, 31):
            uri = tpl.replace("#K#", str(k))
            out = dispatch(regs, uri)
            for router, res in out.items():
                if res["status"] == "ok":
                    matched[router].add(res["handler"])
            fixture.append({"template": tpl, "k": k, "uri": uri,
                            "dispatch": out})
    OUT_FIXTURE.write_text(json.dumps(fixture, indent=1))

    for router in regs:
        handlers = {e["handler"] for e in regs[router]}
        miss = sorted(handlers - matched[router])
        print(f"{router}: {len(matched[router])}/{len(handlers)} handlers "
              f"hit; unmatched: {miss}")
    from collections import Counter
    st = Counter((r, d["dispatch"][r]["status"])
                 for d in fixture for r in regs)
    print("status counts:", dict(st))


if __name__ == "__main__":
    sys.exit(main())
