package graft.miners

// GENERATED by tools/gen_routes.py — do not edit by hand.
/** X3 — the reference's three route registries, one (pattern,
  * handler) entry per active `@<x>_router.route(...)` registration
  * in `minecode/miners/` and `minecode/collectors/` (decorator
  * source cited per entry; splat registrations resolved through
  * their module lists: `minecode/collectors/generic.py:148-183`,
  * `minecode/miners/repodata_rpms.py:16-47`). Pattern semantics
  * are `minecode/route.py:55-66`: the regex must match the whole
  * URI. Handlers are named `module.Endpoint` as in Rule.__repr__.
  *
  * The registries drive [[Router]] dispatch (resolve: exactly one
  * match, `route.py:161-185`; prefix-pruned, see Router's docs)
  * and the frontier's is_visitable / is_mappable flags
  * (`minecode/models.py:482-483`) through the same Router via the
  * [[graft.functions.UriRoutable]] codegen expression
  * ([[graft.streaming.Frontier.withRoutability]]); the anchored
  * `^(p1|p2|...)$` alternation of `route.py:187-200` remains
  * available through [[alternation]] as the reference-shaped
  * baseline.
  */
object RouteRegistry {

  /** (95 patterns, registration order) */
  val visit: Vector[(String, String)] = Vector(
    // minecode/miners/apache.py:183
    ("""https?://apache.org/dist/zzz/find\-ls\.gz""", "apache.ApacheDistIndexVisitor"),
    // minecode/miners/apache.py:252
    ("""https?://(archive\.)apache.org/dist/.*\.(md5|sha1?|sha256|sha512)""", "apache.ApacheChecksumVisitor"),
    // minecode/miners/bitbucket.py:75
    ("""https://api\.bitbucket\.org/2\.0/repositories\?pagelen=.*""", "bitbucket.BitbucketIndexVisitor"),
    // minecode/miners/bitbucket.py:90
    ("""https://api\.bitbucket\.org/2\.0/repositories/[^\/]*/[^\/\?]*/?""", "bitbucket.BitbucketSingleRepoVisitor"),
    // minecode/miners/bitbucket.py:101
    ("""https://api.bitbucket.org/2.0/repositories/[^\/]*/[^\/]*/(refs/tags|downloads).*""", "bitbucket.BitbucketDetailsVisitorPaginated"),
    // minecode/miners/bitbucket.py:114
    ("""https://api\.bitbucket\.org/2\.0/repositories/[^\/]*/[^\/]*/(watchers|forks|commits).*""", "bitbucket.BitbucketDetailsVisitor"),
    // minecode/miners/bower.py:29
    ("""https://registry.bower.io/packages""", "bower.BowerTopJsonVisitor"),
    // minecode/miners/bower.py:77
    ("""https://raw.githubusercontent.com/.*/master/bower.json""", "bower.BowerJsonVisitor"),
    // minecode/miners/bower.py:77
    ("""https://lolg.it/.*/master/bower.json""", "bower.BowerJsonVisitor"),
    // minecode/miners/bower.py:77
    ("""https://coding.net/.*/master/bower.json""", "bower.BowerJsonVisitor"),
    // minecode/miners/bower.py:77
    ("""https://bitbucket.org/*/master/bower.json""", "bower.BowerJsonVisitor"),
    // minecode/miners/cpan.py:63
    ("""https://fastapi.metacpan.org/author/_search\?q=email:[a-z]\*&size=5000""", "cpan.MetaCpanAuthorURLVisitors"),
    // minecode/miners/cpan.py:87
    ("""https://fastapi.metacpan.org/release/_search\?q=author:\w+&size=5000""", "cpan.MetaCpanRleaseURLVisitors"),
    // minecode/miners/cpan.py:99
    ("""http://www.cpan.org/modules/01modules.index.html""", "cpan.CpanModulesVisitors"),
    // minecode/miners/cpan.py:127
    ("""http://www.cpan.org/authors/.*/""", "cpan.CpanProjectHTMLVisitors"),
    // minecode/miners/cpan.py:167
    ("""http://www.cpan.org/.*.meta""", "cpan.CpanMetaVisitors"),
    // minecode/miners/cpan.py:178
    ("""http://www.cpan.org/.*.readme""", "cpan.CpanReadmeVisitors"),
    // minecode/miners/cran.py:31
    ("""https://cloud.r-project.org/web/packages/available_packages_by_date.html""", "cran.CranPackagesVisitors"),
    // minecode/miners/cran.py:48
    ("""https://cloud.r-project.org/web/packages/[\w\-\.]/index.html""", "cran.CranSinglePackageVisitor"),
    // minecode/miners/debian.py:98
    ("""http://ftp.debian.org/.*/ls\-lR\.gz""", "debian.DebianDirectoryIndexVisitor"),
    // minecode/miners/debian.py:98
    ("""http://.*/ubuntu/ls\-lR\.gz""", "debian.DebianDirectoryIndexVisitor"),
    // minecode/miners/debian.py:98
    ("""http://ftp.[a-z][a-z].debian.org/.*/ls\-lR\.gz""", "debian.DebianDirectoryIndexVisitor"),
    // minecode/miners/debian.py:233
    ("""http://ftp.debian.org/debian/dists/.*/Sources.gz""", "debian.DebianSourcesVisitor"),
    // minecode/miners/debian.py:260
    ("""http://ftp.debian.org/debian/dists/.*Packages.gz""", "debian.DebianPackagesVisitor"),
    // minecode/miners/debian.py:290
    ("""http://ftp.debian.org/debian/pool/.*\.dsc""", "debian.DebianDescriptionVisitor"),
    // minecode/miners/debian.py:303
    ("""http://ftp.debian.org/debian/.*/Release""", "debian.DebianReleaseVisitor"),
    // minecode/miners/dockerhub.py:58
    ("""https://hub.docker.com/explore/\?page=\d?""", "dockerhub.DockHubExplorePageVisitor"),
    // minecode/miners/dockerhub.py:100
    ("""https://hub.docker.com/_/[\w\-\.]+/""", "dockerhub.DockHubProjectHTMLVisitor"),
    // minecode/miners/dockerhub.py:127
    ("""https://registry.hub.docker.com/v2/repositories/library/[\w\-\.]+/""", "dockerhub.DockHubLibraryRESTJsonVisitor"),
    // minecode/miners/dockerhub.py:135
    ("""https://index.docker.io/v1/search\?q=\w\w&n=100&page=\d+""", "dockerhub.DockHubGetAllProjectsFromSearchVisitor"),
    // minecode/miners/eclipse.py:31
    ("""https://projects.eclipse.org/list-of-projects""", "eclipse.EclipseProjectVisitors"),
    // minecode/miners/eclipse.py:48
    ("""https://projects.eclipse.org/projects/.*""", "eclipse.EclipseSingleProjectVisitor"),
    // minecode/miners/eclipse.py:62
    ("""http://git.eclipse.org/c""", "eclipse.EclipseGitVisitor"),
    // minecode/miners/eclipse.py:81
    ("""http://www.eclipse.org/downloads/packages/all""", "eclipse.EclipsePackagesVisitor"),
    // minecode/miners/eclipse.py:106
    ("""http://www.eclipse.org/downloads/packages/release/.*""", "eclipse.EclipseReleaseVisitor"),
    // minecode/miners/eclipse.py:139
    ("""http://projects.eclipse.org/json/projects/all""", "eclipse.EclipseProjectsJsonVisitor"),
    // minecode/miners/eclipse.py:160
    ("""http://projects.eclipse.org/json/project/.*""", "eclipse.EclipseSingleProjectJsonVisitor"),
    // minecode/miners/fdroid.py:76
    ("""https://f-droid.org/repo/index-v2.json""", "fdroid.FdroidIndexVisitor"),
    // minecode/miners/freebsd.py:39
    ("""https://pkg.freebsd.org""", "freebsd.FreeBSDBaseHTMLVisitors"),
    // minecode/miners/freebsd.py:56
    ("""https://pkg.freebsd.org/.*/""", "freebsd.FreeBSDSubHTMLVisitors"),
    // minecode/miners/freebsd.py:72
    ("""https://pkg.freebsd.org/.*packagesite.txz""", "freebsd.FreeBSDIndexVisitors"),
    // minecode/miners/freedesktop.py:28
    ("""https://www.freedesktop.org/wiki/Software""", "freedesktop.FreedesktopHTMLVisitor"),
    // minecode/miners/freedesktop.py:50
    ("""https://www.freedesktop.org/wiki/Software/.*""", "freedesktop.FreedesktopProjectHTMLVisitor"),
    // minecode/miners/github.py:44
    ("""https://api.github.com/repositories\?since=\d+""", "github.GithubReposVisitor"),
    // minecode/miners/github.py:83
    ("""https://api.github.com/repos/[\w\-\.]+/[\w\-\.]+""", "github.GithubSingleRepoVisitor"),
    // minecode/miners/gitlab.py:33
    ("""https://gitlab.com/api/v4/projects""", "gitlab.GitlabAPIHeaderVisitor"),
    // minecode/miners/gitlab.py:57
    ("""https://gitlab.com/api/v4/projects\?page=\d+&per_page=\d+&statistics=true""", "gitlab.GitlabAPIVisitor"),
    // minecode/miners/golang.py:30
    ("""https://api.godoc.org/packages""", "golang.GodocIndexVisitor"),
    // minecode/miners/golang.py:71
    ("""https://api\.godoc\.org/search\?q=.*""", "golang.GodocSearchVisitor"),
    // minecode/miners/googlecode.py:35
    ("""https://storage.googleapis.com/google-code-archive/google-code-archive.txt.zip""", "googlecode.GooglecodeArchiveVisitor"),
    // minecode/miners/googlecode.py:76
    ("""https://www.googleapis.com/storage/v1/b/google-code-archive/o/v2.*project.json\?alt=media""", "googlecode.GoogleAPIProjectJsonVisitor"),
    // minecode/miners/googlecode.py:85
    ("""https://code.google.com/archive/search\?q=domain:code.google.com""", "googlecode.GoogleProjectPagesVisitor"),
    // minecode/miners/googlecode.py:85
    ("""https://code.google.com/archive/search\?q=domain:code.google.com&page=[0-9]*""", "googlecode.GoogleProjectPagesVisitor"),
    // minecode/miners/googlecode.py:112
    ("""https://storage.googleapis.com/google-code-archive/v2/code.google.com/.*/project.json""", "googlecode.GoogleProjectJsonVisitor"),
    // minecode/miners/googlecode.py:123
    ("""https://storage.googleapis.com/google-code-archive/v2/code.google.com/.*/downloads-page-[0-9]*.json""", "googlecode.GoogleDownloadsPageJsonVisitor"),
    // minecode/miners/gstreamer.py:31
    ("""https://gstreamer.freedesktop.org/src/([\w\-\.]+/)*""", "gstreamer.GstreamerHTMLVisitor"),
    // minecode/miners/haxe.py:32
    ("""https://lib.haxe.org/all""", "haxe.HaxeProjectsVisitor"),
    // minecode/miners/haxe.py:57
    ("""https://lib.haxe.org/p/[\w\-\.]+/versions""", "haxe.HaxeVersionsVisitor"),
    // minecode/miners/haxe.py:90
    ("""https://lib.haxe.org/p/[\w\-\.]+/[\w\-\.]+/raw-files/[\w\-\.]+/package.json""", "haxe.HaxePackageJsonVisitor"),
    // minecode/miners/maven.py:108
    ("""http://repo1\.maven\.org/maven2/\.index/nexus-maven-repository-index.properties""", "maven.MavenNexusPropertiesVisitor"),
    // minecode/miners/maven.py:111
    ("""https://repo1\.maven\.org/maven2/\.index/nexus-maven-repository-index.properties""", "maven.MavenNexusPropertiesVisitor"),
    // minecode/miners/maven.py:139
    ("""https?://.*/nexus-maven-repository-index.gz""", "maven.MavenNexusIndexVisitor"),
    // minecode/miners/maven.py:139
    ("""https?://.*/nexus-maven-repository-index\.\d+\.gz""", "maven.MavenNexusIndexVisitor"),
    // minecode/miners/maven.py:257
    ("""https?://jcenter\.bintray\.com/(.+/)*""", "maven.MavenHTMLPageVisitor"),
    // minecode/miners/maven.py:287
    ("""https?://.*/maven-metadata\.xml""", "maven.MavenMetaDataVisitor"),
    // minecode/miners/maven.py:378
    ("""https?://repo1.maven.org/maven2/.*\.pom""", "maven.MavenPOMVisitor"),
    // minecode/miners/npm.py:36
    ("""https://replicate.npmjs.com/registry/_changes\?include_docs=true&limit=\d+&since=\d+""", "npm.NpmRegistryVisitor"),
    // minecode/miners/nuget.py:32
    ("""https://api-v2v3search-0.nuget.org/query""", "nuget.NugetQueryVisitor"),
    // minecode/miners/nuget.py:59
    ("""https://api-v2v3search-0.nuget.org/query\?skip=\d+""", "nuget.PackagesPageVisitor"),
    // minecode/miners/nuget.py:91
    ("""https://api.nuget.org/.+.json""", "nuget.NugetAPIJsonVisitor"),
    // minecode/miners/nuget.py:130
    ("""https://www.nuget.org/packages\?page=\d+""", "nuget.NugetHTMLPageVisitor"),
    // minecode/miners/nuget.py:155
    ("""https://www.nuget.org/packages/[\w\-\.]+""", "nuget.NugetHTMLPackageVisitor"),
    // minecode/miners/nuget.py:155
    ("""https://www.nuget.org/packages/[\w\-\.]+/[\w\-\.]+""", "nuget.NugetHTMLPackageVisitor"),
    // minecode/miners/openssl.py:38
    ("""https://ftp.openssl.org/""", "openssl.OpenSSLVisitor"),
    // minecode/miners/openssl.py:38
    ("""https://ftp.openssl.org/.*/""", "openssl.OpenSSLVisitor"),
    // minecode/miners/openwrt.py:42
    ("""https://downloads.openwrt.org/.*/""", "openwrt.OpenWrtDownloadPagesVisitor"),
    // minecode/miners/openwrt.py:65
    ("""https://downloads.openwrt.org/.*/Packages\.gz""", "openwrt.OpenWrtPackageIndexVisitor"),
    // minecode/miners/openwrt.py:98
    ("""https://downloads.openwrt.org/.*\.ipk""", "openwrt.OpenWrtIpkPackageArchiveVisitor"),
    // minecode/miners/packagist.py:36
    ("""https://packagist.org/packages/list.json""", "packagist.PackagistListVisitor"),
    // minecode/miners/packagist.py:62
    ("""https://packagist.org/p/.*json""", "packagist.PackageVisitor"),
    // minecode/miners/pypi.py:49
    ("""https://pypi.python.org/pypi/""", "pypi.PypiIndexVisitor"),
    // minecode/miners/pypi.py:81
    ("""https://pypi.python.org/pypi/[^/]+/json""", "pypi.PypiPackageVisitor"),
    // minecode/miners/pypi.py:103
    ("""https://pypi.python.org/pypi/[^/]+/[^/]+/json""", "pypi.PypiPackageReleaseVisitor"),
    // minecode/miners/repodata_rpms.py:47
    ("""rsync://mirrors.kernel.org/centos/""", "repodata_rpms.collect_repomd_urls"),
    // minecode/miners/repodata_rpms.py:47
    ("""rsync://yum.postgresql.org""", "repodata_rpms.collect_repomd_urls"),
    // minecode/miners/repodata_rpms.py:47
    ("""rsync://www.fedora.is/fedora/""", "repodata_rpms.collect_repomd_urls"),
    // minecode/miners/repodata_rpms.py:47
    ("""rsync://rsync.opensuse.org/""", "repodata_rpms.collect_repomd_urls"),
    // minecode/miners/repomd.py:92
    (""".+/repomd.xml""", "repomd.collect_rpm_packages_from_repomd"),
    // minecode/miners/rubygems.py:56
    ("""https?://rubygems\.org/specs\.4\.8\.gz""", "rubygems.RubyGemsIndexVisitor"),
    // minecode/miners/rubygems.py:89
    ("""https?://rubygems\.org/api/v1/versions/[\w\-\.]+.json""", "rubygems.RubyGemsApiManyVersionsVisitor"),
    // minecode/miners/rubygems.py:121
    ("""https?://rubygems.org/downloads/[\w\-\.]+.gem""", "rubygems.RubyGemsPackageArchiveMetadataVisitor"),
    // minecode/miners/sourceforge.py:38
    ("""https?://sourceforge.net/sitemap.xml""", "sourceforge.SourceforgeSitemapIndexVisitor"),
    // minecode/miners/sourceforge.py:59
    ("""https?://sourceforge.net/sitemap-\d+.xml""", "sourceforge.SourceforgeSitemapPageVisitor"),
    // minecode/miners/sourceforge.py:77
    ("""https?://sourceforge.net/api/project/name/[a-z0-9.-]+/json""", "sourceforge.SourceforgeProjectJsonVisitor"),
    // minecode/miners/sourceforge.py:77
    ("""https?://sourceforge.net/rest/p/[a-z0-9.-]+""", "sourceforge.SourceforgeProjectJsonVisitor")
  )

  /** (44 patterns, registration order) */
  val map: Vector[(String, String)] = Vector(
    // minecode/miners/apache.py:512
    ("""http?s://(archive\.)?apache\.org/dist/.*""", "apache.ApacheDownloadMapper"),
    // minecode/miners/bitbucket.py:201
    ("""https://api.bitbucket\.org/2\.0/repositories/.*/downloads/""", "bitbucket.BitbucketDownloadMapper"),
    // minecode/miners/bower.py:89
    ("""https://raw.githubusercontent.com/.*/master/bower.json""", "bower.BowerJsonMapper"),
    // minecode/miners/bower.py:89
    ("""https://lolg.it/.*/master/bower.json""", "bower.BowerJsonMapper"),
    // minecode/miners/bower.py:89
    ("""https://coding.net/.*/master/bower.json""", "bower.BowerJsonMapper"),
    // minecode/miners/cpan.py:203
    ("""https://fastapi.metacpan.org/release/_search\?q=author:\w+&size=5000""", "cpan.MetaCpanReleaseSearchMapper"),
    // minecode/miners/cpan.py:313
    ("""http://www.cpan.org/.*.meta""", "cpan.CpanMetaFileMapper"),
    // minecode/miners/cpan.py:415
    ("""http://www.cpan.org/.*.readme""", "cpan.CpanReadmeFileMapper"),
    // minecode/miners/cran.py:55
    ("""https://cloud.r-project.org/web/packages/[\w\-\.]/index.html""", "cran.CranMetaFileMapper"),
    // minecode/miners/debian.py:310
    ("""http://ftp.debian.org/debian/pool/.*\.dsc""", "debian.DebianDescriptionMapper"),
    // minecode/miners/debian.py:413
    ("""http://ftp.debian.org/debian/dists/.*Sources.gz""", "debian.DebianSourceFileMapper"),
    // minecode/miners/debian.py:500
    ("""http://ftp.debian.org/debian/dists/.*Packages.gz""", "debian.DebianPackageFileMapper"),
    // minecode/miners/debian.py:571
    ("""http://ftp.debian.org/debian/dists/.*\.zip""", "debian.DebianArchiveFileMapper"),
    // minecode/miners/debian.py:571
    ("""http://ftp.debian.org/debian/dists/.*\.jar""", "debian.DebianArchiveFileMapper"),
    // minecode/miners/debian.py:571
    ("""http://ftp.debian.org/debian/dists/.*\.gz""", "debian.DebianArchiveFileMapper"),
    // minecode/miners/dockerhub.py:162
    ("""https://registry.hub.docker.com/v2/repositories/library/[\w\-\.]+/""", "dockerhub.DockerHubLiraryJsonMapper"),
    // minecode/miners/eclipse.py:174
    ("""http://projects.eclipse.org/json/project/.*""", "eclipse.EclipseJsonPackageMapper"),
    // minecode/miners/eclipse.py:236
    ("""https://projects.eclipse.org/projects/.*""", "eclipse.EclipseHTMLProjectMapper"),
    // minecode/miners/fdroid.py:103
    ("""pkg:fdroid/.+""", "fdroid.FdroidPackageMapper"),
    // minecode/miners/freebsd.py:87
    ("""https://pkg.freebsd.org/.*packagesite.txz""", "freebsd.FreeBSDIndexMapper"),
    // minecode/miners/freedesktop.py:57
    ("""https://www.freedesktop.org/wiki/Software/.*""", "freedesktop.FreedesktopHTMLProjectMapper"),
    // minecode/miners/github.py:200
    ("""https://api\.github\.com/repos/([^/]+)/([^/]+)""", "github.GithubMetaFileMapper"),
    // minecode/miners/gitlab.py:101
    ("""https://gitlab.com/.*""", "gitlab.GitLabMapper"),
    // minecode/miners/golang.py:215
    ("""pkg:golang/.*""", "golang.GolangApiDocMapper"),
    // minecode/miners/googlecode.py:177
    ("""https://storage.googleapis.com/google-code-archive/v2/code.google.com/.*/project.json""", "googlecode.GoogleNewAPIV2ProjectJsonMapper"),
    // minecode/miners/googlecode.py:231
    ("""https://www.googleapis.com/storage/v1/b/google-code-archive/o/v2.*project.json\?alt=media""", "googlecode.GoogleNewAPIV1ProjectJsonMapper"),
    // minecode/miners/gstreamer.py:77
    ("""https://gstreamer.freedesktop.org/src/([\w\-\.]+/)*[\w\-\.]+[.tar\.bz2\.gz|\.tar\.xz]""", "gstreamer.GstreamerURLMapper"),
    // minecode/miners/haxe.py:97
    ("""https://lib.haxe.org/p/[\w\-\.]+/[\w\-\.]+/raw-files/[\w\-\.]+/package.json""", "haxe.HaxePackageJsonMapper"),
    // minecode/miners/maven.py:978
    ("""maven-index://.*""", "maven.MavenIndexArtifactMapper"),
    // minecode/miners/maven.py:1035
    ("""https?://repo1.maven.org/maven2/.*\.pom""", "maven.MavenPomMapper"),
    // minecode/miners/npm.py:107
    ("""https://registry.npmjs.org/[^\/]+""", "npm.NpmPackageMapper"),
    // minecode/miners/nuget.py:169
    ("""https://api.nuget.org/v3/catalog.+\.json""", "nuget.NugetPackageMapper"),
    // minecode/miners/nuget.py:228
    ("""https://api.nuget.org/packages/.*\.nupkg""", "nuget.NugetNUPKGDownloadMapper"),
    // minecode/miners/nuget.py:251
    ("""https://www.nuget.org/packages/[\w\-\.]+""", "nuget.NugetHTMLPackageMapper"),
    // minecode/miners/nuget.py:251
    ("""https://www.nuget.org/packages/[\w\-\.]+/[\w\-\.]+""", "nuget.NugetHTMLPackageMapper"),
    // minecode/miners/openssl.py:108
    ("""https://ftp.openssl.org/.*""", "openssl.OpenSSLMapper"),
    // minecode/miners/openwrt.py:115
    ("""https://downloads.openwrt.org/.*\.ipk""", "openwrt.OpenwrtIpkMetadataMapper"),
    // minecode/miners/packagist.py:70
    ("""https://packagist.org/p/.*json""", "packagist.PackagistPackageMapper"),
    // minecode/miners/pypi.py:145
    ("""https://pypi.python.org/pypi/[^/]+/[^/]+/json""", "pypi.PypiPackageMapper"),
    // minecode/miners/repomd.py:112
    (""".+/repomd.xml""", "repomd.map_repomd_data"),
    // minecode/miners/rubygems.py:147
    ("""https*://rubygems\.org/api/v1/versions/[\w\-\.]+.json""", "rubygems.RubyGemsApiVersionsJsonMapper"),
    // minecode/miners/rubygems.py:262
    ("""https?://rubygems.org/downloads/[\w\-\.]+.gem""", "rubygems.RubyGemsPackageArchiveMetadataMapper"),
    // minecode/miners/sourceforge.py:90
    ("""https?://sourceforge.net/api/project/name/[a-z0-9.-]+/json""", "sourceforge.SourceforgeProjectJsonAPIMapper"),
    // minecode/miners/sourceforge.py:90
    ("""https?://sourceforge.net/rest/p/[a-z0-9.-]+""", "sourceforge.SourceforgeProjectJsonAPIMapper")
  )

  /** (56 patterns, registration order) */
  val priority: Vector[(String, String)] = Vector(
    // minecode/collectors/alpine.py:69
    ("""pkg:apk/.*""", "alpine.process_request"),
    // minecode/collectors/alpm.py:62
    ("""pkg:alpm/.*""", "alpm.process_request"),
    // minecode/collectors/cargo.py:81
    ("""pkg:cargo/.*""", "cargo.process_request"),
    // minecode/collectors/composer.py:72
    ("""pkg:composer/.*""", "composer.process_request"),
    // minecode/collectors/conan.py:133
    ("""pkg:conan/.*""", "conan.process_request"),
    // minecode/collectors/conda.py:75
    ("""pkg:conda/.*""", "conda.process_request"),
    // minecode/collectors/cpan.py:80
    ("""pkg:cpan/.*""", "cpan.process_request"),
    // minecode/collectors/cran.py:68
    ("""pkg:cran/.*""", "cran.process_request"),
    // minecode/collectors/debian.py:31
    ("""pkg:deb/.*""", "debian.process_request"),
    // minecode/collectors/dockerhub.py:128
    ("""pkg:docker/.*""", "dockerhub.process_request"),
    // minecode/collectors/generic.py:64
    ("""pkg:generic/.*?download_url=.*""", "generic.process_request"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/busybox@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/bzip2@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/dnsmasq@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/dropbear@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/ebtables@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/hostapd@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/iproute2@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/iptables@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/libnl@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/lighttpd@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/nftables@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/openssh@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/samba@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/syslinux@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/toybox@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/uclibc@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/uclibc-ng@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/util-linux@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/wpa_supplicant@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/ipkg@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/linux@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/mtd-utils@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/barebox@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/e2fsprogs@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/udhcp@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/miniupnpc@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/miniupnpd@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/minissdpd@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/generic.py:183
    ("""pkg:generic/erofs-utils@.*""", "generic.process_request_fetchcode_generic"),
    // minecode/collectors/github.py:54
    ("""pkg:github/.*""", "github.process_request_dir_listed"),
    // minecode/collectors/gnu.py:24
    ("""pkg:gnu/.*""", "gnu.process_request"),
    // minecode/collectors/golang.py:171
    ("""pkg:golang/.*""", "golang.process_requests"),
    // minecode/collectors/hackage.py:76
    ("""pkg:hackage/.*""", "hackage.process_request"),
    // minecode/collectors/hex.py:68
    ("""pkg:hex/.*""", "hex.process_request"),
    // minecode/collectors/huggingface.py:156
    ("""pkg:huggingface/.*""", "huggingface.process_request"),
    // minecode/collectors/luarocks.py:69
    ("""pkg:luarocks/.*""", "luarocks.process_request"),
    // minecode/collectors/maven.py:437
    ("""pkg:maven/.*""", "maven.process_request"),
    // minecode/collectors/nix.py:166
    ("""pkg:nix/nixpkgs/.*""", "nix.process_request"),
    // minecode/collectors/npm.py:82
    ("""pkg:npm/.*""", "npm.process_request"),
    // minecode/collectors/nuget.py:88
    ("""pkg:nuget/.*""", "nuget.process_request"),
    // minecode/collectors/openssl.py:18
    ("""pkg:openssl/openssl@.*""", "openssl.process_request_dir_listed"),
    // minecode/collectors/pub.py:69
    ("""pkg:pub/.*""", "pub.process_request"),
    // minecode/collectors/pypi.py:104
    ("""pkg:pypi/.*""", "pypi.process_request"),
    // minecode/collectors/rubygems.py:98
    ("""pkg:gem/.*""", "rubygems.process_request"),
    // minecode/collectors/swift.py:54
    ("""pkg:swift/.*""", "swift.process_request")
  )

  lazy val visitRouter: Router[String] =
    new Router(visit.map { case (p, h) => (p.r, h) })
  lazy val mapRouter: Router[String] =
    new Router(map.map { case (p, h) => (p.r, h) })
  lazy val priorityRouter: Router[String] =
    new Router(priority.map { case (p, h) => (p.r, h) })

  def router(name: String): Router[String] = name match {
    case "visit"    => visitRouter
    case "map"      => mapRouter
    case "priority" => priorityRouter
  }

  /** `route.py:187-200` — the is_routable alternation, anchored. */
  def alternation(entries: Vector[(String, String)]): String =
    entries.map { case (p, _) => s"(?:$p)" }.mkString("^(", "|", ")$")

  /** Deterministic dispatch-corpus templates for x3_route_dispatch
    * (#K# is substituted with a part key; python-re outcomes for
    * these live in tools/route_fixture.json). */
  val templates: Vector[String] = Vector(
    """pkg:apk/alpine/curl@8.0.#K#""",
    """pkg:alpm/arch/pacman@6.0.#K#""",
    """pkg:cargo/serde@1.0.#K#""",
    """pkg:composer/laravel/framework@10.#K#""",
    """pkg:conan/zlib@1.3.#K#""",
    """pkg:conda/numpy@1.26.#K#""",
    """pkg:cpan/Moose@2.#K#""",
    """pkg:cran/ggplot2@3.4.#K#""",
    """pkg:deb/debian/curl@7.88.#K#""",
    """pkg:docker/library/nginx@1.2#K#""",
    """pkg:generic/xz@5.4.#K#?download_url=https://tukaani.org/xz/xz-5.4.tar.gz""",
    """pkg:generic/busybox@1.36.#K#""",
    """pkg:generic/busybox@1.36.#K#?download_url=https://busybox.net/bb.tar.bz2""",
    """pkg:github/torvalds/linux@6.#K#""",
    """pkg:gnu/gmp@6.2.#K#""",
    """pkg:golang/github.com/gorilla/mux@1.8.#K#""",
    """pkg:hackage/aeson@2.1.#K#""",
    """pkg:hex/phoenix@1.7.#K#""",
    """pkg:huggingface/distilbert-base-uncased@#K#""",
    """pkg:luarocks/luasocket@3.#K#""",
    """pkg:maven/org.apache.commons/commons-lang3@3.#K#""",
    """pkg:nix/nixpkgs/hello@2.#K#""",
    """pkg:nix/other/hello@2.#K#""",
    """pkg:npm/lodash@4.17.#K#""",
    """pkg:nuget/Newtonsoft.Json@13.0.#K#""",
    """pkg:openssl/openssl@3.0.#K#""",
    """pkg:pub/flutter_bloc@8.#K#""",
    """pkg:pypi/requests@2.31.#K#""",
    """pkg:gem/rails@7.0.#K#""",
    """pkg:swift/github.com/apple/swift-nio@2.#K#""",
    """pkg:fdroid/org.fdroid.fdroid@1.#K#""",
    """pkg:brew/wget@1.#K#""",
    """https://apache.org/dist/zzz/find-ls.gz""",
    """https://archive.apache.org/dist/tomcat/tomcat-9/v9.0.#K#/sig.sha512""",
    """https://api.bitbucket.org/2.0/repositories?pagelen=#K#""",
    """https://api.bitbucket.org/2.0/repositories/owner#K#/repo""",
    """https://api.bitbucket.org/2.0/repositories/o/r/refs/tags?page=#K#""",
    """https://api.bitbucket.org/2.0/repositories/o/r/commits?page=#K#""",
    """https://registry.bower.io/packages""",
    """https://raw.githubusercontent.com/user#K#/proj/master/bower.json""",
    """https://lolg.it/group#K#/proj/master/bower.json""",
    """https://fastapi.metacpan.org/author/_search?q=email:b*&size=5000""",
    """https://fastapi.metacpan.org/release/_search?q=author:AUTH#K#&size=5000""",
    """http://www.cpan.org/modules/01modules.index.html""",
    """http://www.cpan.org/authors/id/A#K#/""",
    """http://www.cpan.org/authors/Dist-#K#.meta""",
    """http://www.cpan.org/authors/Dist-#K#.readme""",
    """https://cloud.r-project.org/web/packages/available_packages_by_date.html""",
    """https://cloud.r-project.org/web/packages/a/index.html""",
    """http://ftp.debian.org/debian/ls-lR.gz""",
    """http://ftp.de.debian.org/debian/ls-lR.gz""",
    """http://mirror#K#.example.org/ubuntu/ls-lR.gz""",
    """http://ftp.de.debian.org/ubuntu/ls-lR.gz""",
    """http://ftp.debian.org/debian/dists/sid/main/source/Sources.gz""",
    """http://ftp.debian.org/debian/dists/sid/main/binary-amd64/Packages.gz""",
    """http://ftp.debian.org/debian/pool/main/c/curl/curl_7.#K#.dsc""",
    """http://ftp.debian.org/debian/dists/sid/Release""",
    """http://ftp.debian.org/debian/dists/x#K#.zip""",
    """https://hub.docker.com/explore/?page=#K#""",
    """https://hub.docker.com/_/nginx#K#/""",
    """https://registry.hub.docker.com/v2/repositories/library/redis#K#/""",
    """https://index.docker.io/v1/search?q=ab&n=100&page=#K#""",
    """https://projects.eclipse.org/list-of-projects""",
    """https://projects.eclipse.org/projects/technology.dash#K#""",
    """http://git.eclipse.org/c""",
    """http://www.eclipse.org/downloads/packages/all""",
    """http://www.eclipse.org/downloads/packages/release/juno/sr#K#""",
    """http://projects.eclipse.org/json/projects/all""",
    """http://projects.eclipse.org/json/project/tech#K#""",
    """https://f-droid.org/repo/index-v2.json""",
    """https://pkg.freebsd.org""",
    """https://pkg.freebsd.org/FreeBSD:13:amd64/latest/""",
    """https://pkg.freebsd.org/FreeBSD:#K#:amd64/latest/packagesite.txz""",
    """https://www.freedesktop.org/wiki/Software""",
    """https://www.freedesktop.org/wiki/Software/cairo#K#""",
    """https://api.github.com/repositories?since=#K#""",
    """https://api.github.com/repos/user#K#/repo.name""",
    """https://gitlab.com/api/v4/projects""",
    """https://gitlab.com/api/v4/projects?page=#K#&per_page=70&statistics=true""",
    """https://api.godoc.org/packages""",
    """https://api.godoc.org/search?q=mux#K#""",
    """https://storage.googleapis.com/google-code-archive/google-code-archive.txt.zip""",
    """https://www.googleapis.com/storage/v1/b/google-code-archive/o/v2-p#K#-project.json?alt=media""",
    """https://code.google.com/archive/search?q=domain:code.google.com""",
    """https://code.google.com/archive/search?q=domain:code.google.com&page=#K#""",
    """https://storage.googleapis.com/google-code-archive/v2/code.google.com/proj#K#/project.json""",
    """https://storage.googleapis.com/google-code-archive/v2/code.google.com/p/downloads-page-#K#.json""",
    """https://gstreamer.freedesktop.org/src/gst-plugins-base#K#/""",
    """https://gstreamer.freedesktop.org/src/gst-plugins/gst-#K#z""",
    """https://lib.haxe.org/all""",
    """https://lib.haxe.org/p/hxcpp#K#/versions""",
    """https://lib.haxe.org/p/hxlib/4.#K#/raw-files/hxlib/package.json""",
    """http://repo1.maven.org/maven2/.index/nexus-maven-repository-index.properties""",
    """https://repo1.maven.org/maven2/.index/nexus-maven-repository-index.properties""",
    """https://repo1.maven.org/maven2/.index/nexus-maven-repository-index.gz""",
    """https://repo1.maven.org/maven2/.index/nexus-maven-repository-index.#K#.gz""",
    """https://jcenter.bintray.com/org/apache/lib#K#/""",
    """https://repo.maven.apache.org/maven2/org/x#K#/maven-metadata.xml""",
    """https://repo1.maven.org/maven2/junit/junit/4.#K#/junit-4.pom""",
    """maven-index://repo1.maven.org/part#K#""",
    """https://replicate.npmjs.com/registry/_changes?include_docs=true&limit=#K#&since=0""",
    """https://registry.npmjs.org/lodash#K#""",
    """https://api-v2v3search-0.nuget.org/query""",
    """https://api-v2v3search-0.nuget.org/query?skip=#K#""",
    """https://api.nuget.org/v3/catalog0/data/page#K#.json""",
    """https://api.nuget.org/packages/newtonsoft.json.13.0.#K#.nupkg""",
    """https://www.nuget.org/packages?page=#K#""",
    """https://www.nuget.org/packages/Humanizer#K#""",
    """https://ftp.openssl.org/""",
    """https://ftp.openssl.org/source/old/1.1.#K#/""",
    """https://ftp.openssl.org/source/openssl-3.0.#K#.tar.gz""",
    """https://downloads.openwrt.org/releases/23.05.#K#/targets/""",
    """https://downloads.openwrt.org/releases/#K#/packages/Packages.gz""",
    """https://downloads.openwrt.org/releases/#K#/packages/luci.ipk""",
    """https://packagist.org/packages/list.json""",
    """https://packagist.org/p/vendor#K#/pkg.json""",
    """https://pypi.python.org/pypi/""",
    """https://pypi.python.org/pypi/requests#K#/json""",
    """https://pypi.python.org/pypi/requests/2.#K#/json""",
    """http://mirrors.kernel.org/centos/#K#/os/x86_64/repodata/repomd.xml""",
    """rsync://mirrors.kernel.org/centos/""",
    """rsync://yum.postgresql.org""",
    """https://rubygems.org/specs.4.8.gz""",
    """https://rubygems.org/api/v1/versions/rails#K#.json""",
    """https://rubygems.org/downloads/rails-7.0.#K#.gem""",
    """https://sourceforge.net/sitemap.xml""",
    """https://sourceforge.net/sitemap-#K#.xml""",
    """https://sourceforge.net/api/project/name/proj-#K#/json""",
    """https://sourceforge.net/rest/p/proj#K#""",
    """https://archive.apache.org/dist/httpd/httpd-2.4.#K#.tar.gz""",
    """http://apache.org/dist/httpd/httpd-2.4.#K#.tar.gz""",
    """https://api.bitbucket.org/2.0/repositories/owner#K#/repo/downloads/""",
    """https://ftp.openssl.org/source/openssl-1.1.#K#w.tar.gz""",
    """https://example.org/nothing/#K#""",
    """ftp://mirror.example.net/pub/file-#K#.tar.gz"""
  )
}
