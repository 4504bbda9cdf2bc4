"""Dead-surface guard: every module of the package must be reachable by
a static import scan from a program entry point (the submit job, the
driver roster, the benchmarks and the tools). A module that only its
own tests import is a surface nothing runs; it is deleted with its
tests unless a crawl, a submit path or a roster row needs it.

Static only: ``modulefinder`` reads byte code and starts no Spark
session. Modules outside the repo (pyspark, pandas, ...) are recorded
but not scanned, which keeps the run to about a second.
"""

from __future__ import annotations

import glob
import modulefinder
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ftw_crawler_spark"
ENTRY_POINTS = (["jobs/crawl_submit.py", "__spark_entry__.py", "bench.py",
                 "perfbench/run.py", "perfbench/build.py"]
                + sorted(os.path.relpath(p, REPO) for p in
                         glob.glob(os.path.join(REPO, "tools", "*.py"))))
# reached by no import, on purpose: ``write_bucketed_pages`` is the
# one-time layout step run before ``crawl_submit --pages-table``
UNREACHED_BY_DESIGN = {f"{PACKAGE}.sources.pagestore"}


class _RepoFinder(modulefinder.ModuleFinder):
    """Follows imports only inside the repo."""

    def load_module(self, fqname, fp, pathname, file_info):
        inside = pathname and os.path.abspath(pathname).startswith(
            REPO + os.sep)
        if not inside:
            return self.add_module(fqname)
        return super().load_module(fqname, fp, pathname, file_info)


def _package_modules() -> set[str]:
    out = set()
    for path in glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"),
                          recursive=True):
        rel = os.path.relpath(path, REPO)[:-len(".py")]
        parts = rel.split(os.sep)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out.add(".".join(parts))
    return out


def test_every_package_module_is_reached_from_an_entry_point():
    finder = _RepoFinder(path=[REPO, os.path.join(REPO, "perfbench"),
                               os.path.join(REPO, "tools")])
    for script in ENTRY_POINTS:
        finder.run_script(os.path.join(REPO, script))
    reached = {name for name in finder.modules
               if name == PACKAGE or name.startswith(PACKAGE + ".")}
    unreached = _package_modules() - reached - UNREACHED_BY_DESIGN
    assert not unreached, (
        f"modules no entry point imports: {sorted(unreached)}; delete "
        "them with their tests, or wire them into a crawl, submit or "
        "roster path")
    # the exception list must not outlive the module it names
    assert UNREACHED_BY_DESIGN <= _package_modules()
