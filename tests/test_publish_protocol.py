"""Structural gate: one publish protocol per artifact kind.

- Build-once silvers publish through ``sources/scratch.build_once``:
  no other package module gates a build on a ``_SUCCESS`` marker.
- S7 upserts publish through the commit log (``commit_append`` /
  ``read_committed``): the blind-append sink stays deleted.
- State that outlives a query goes through ``session.session_memo``:
  no other module registers an exit hook, reads ``applicationId`` (the
  key every hand-rolled session cache used) or keeps a module-level
  cache.
- Python map kernels run through one helper,
  ``llm/multimodal.py:row_kernel``: it is the only ``mapInArrow`` /
  ``mapInPandas`` call site, and the media module builds no
  ``pd.Series`` by hand.
- Plan modules import infrastructure, not each other: a plan module
  imports only ``registry``, ``goldens``, ``oracle_sql`` and
  ``fragments`` of ``plans/``, all at module top, and no package module
  outside ``plans/`` imports a plan module.
- A live directory is replaced through ``sources/sinks.py``
  (``swap_aside``, ``drop_dir``, ``repair``): the aside and manifest
  literals live only there, the ``day=`` partition naming in one
  module, and no other ``sources/`` code but ``scratch.build_once``
  calls ``os.rename``.

Pure text scan of the package sources, no Spark.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "streaming_forex_data_pipeline_spark"
SCRATCH = os.path.join(PACKAGE, "sources", "scratch.py")
MEMO = os.path.join(PACKAGE, "session.py")
MEDIA = os.path.join(PACKAGE, "llm", "multimodal.py")
SINKS = os.path.join(PACKAGE, "sources", "sinks.py")
LAYOUT = os.path.join(PACKAGE, "sources", "layout.py")

_SUCCESS_GATE = re.compile(
    r"""["']_SUCCESS["']\)\.exists\(\)|exists\([^)]*["']_SUCCESS["']"""
)
_BLIND_UPSERT = re.compile(r"upsert_append|read_upserted")


def _package_sources():
    for root, dirs, files in os.walk(os.path.join(REPO, PACKAGE)):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, REPO), fh.read()


def test_only_scratch_gates_a_build_on_success():
    gated = sorted(
        rel for rel, text in _package_sources() if _SUCCESS_GATE.search(text)
    )
    assert gated == [SCRATCH], (
        "build-once gates outside sources/scratch.py (route them "
        f"through scratch.build_once): {gated}"
    )


def test_no_blind_append_upsert_sink():
    hits = [
        f"{rel}:{n}"
        for rel, text in _package_sources()
        for n, line in enumerate(text.splitlines(), 1)
        if _BLIND_UPSERT.search(line)
    ]
    assert not hits, f"blind-append upsert sink referenced: {hits}"


# module-level containers that are filled at run time: session state
_STATE_CONTAINERS = {
    "dict", "list", "set", "defaultdict", "OrderedDict", "deque",
    "WeakKeyDictionary", "WeakValueDictionary", "WeakSet",
}
_ALLOWED_STATE = {"_REGISTRY", "SILVER_BUILD_LOG"}


def _is_state_container(value) -> bool:
    if isinstance(value, (ast.Dict, ast.List, ast.Set)):
        return not (getattr(value, "keys", None) or getattr(value, "elts", None))
    if isinstance(value, ast.Call):
        f = value.func
        return (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")) in (
            _STATE_CONTAINERS
        )
    return False


def _session_state_outside_memo(rel: str, text: str) -> list[str]:
    tree = ast.parse(text)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "applicationId":
            hits.append(f"{rel}:{node.lineno} applicationId")
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "register"
            and isinstance(node.value, ast.Name)
            and node.value.id == "atexit"
        ) or (isinstance(node, ast.ImportFrom) and node.module == "atexit"):
            hits.append(f"{rel}:{node.lineno} atexit.register")
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        for t in targets:
            name = getattr(t, "id", None)
            if name is None or name in _ALLOWED_STATE:
                continue
            if name.endswith("_CACHE") or _is_state_container(value):
                hits.append(f"{rel}:{node.lineno} module-level {name}")
    return hits


def test_session_state_goes_through_session_memo():
    hits = [
        hit
        for rel, text in _package_sources()
        if rel != MEMO
        for hit in _session_state_outside_memo(rel, text)
    ]
    assert not hits, (
        "session state outside session.session_memo (route it through "
        f"the memo): {hits}"
    )


def test_session_state_gate_sees_the_hand_rolled_caches():
    """The scan flags each shape the memo replaced."""
    sample = """
import atexit
import weakref
_SHIPPED: set[str] = set()
_WALK_CACHE = {}
_FIT_CACHE = weakref.WeakKeyDictionary()
_INGEST_DIRS: list[str] = []
_REGISTRY: dict = {}
ROUND = 6
TABLES = ("events",)

@atexit.register
def _cleanup():
    pass

def f(spark):
    key = (spark.sparkContext.applicationId, "x")
"""
    hits = _session_state_outside_memo("m.py", sample)
    assert sorted(h.split(" ", 1)[1] for h in hits) == sorted([
        "applicationId",
        "atexit.register",
        "module-level _SHIPPED",
        "module-level _WALK_CACHE",
        "module-level _FIT_CACHE",
        "module-level _INGEST_DIRS",
    ])


_PYTHON_MAPS = ("mapInArrow", "mapInPandas")
_PANDAS_IMPORT = re.compile(r"^\s*(?:import|from) pandas\b", re.M)


def _python_map_sites(rel: str, text: str) -> list[str]:
    """``rel:function`` for each mapInArrow/mapInPandas call, named by
    its enclosing top-level definition; in the media module also
    ``rel:pandas`` per pandas import and ``rel:pd.Series`` per
    hand-built series."""
    sites = []
    for top in ast.parse(text).body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _PYTHON_MAPS
            ):
                sites.append(f"{rel}:{owner}")
    if rel == MEDIA:
        sites += [f"{rel}:pandas"] * len(_PANDAS_IMPORT.findall(text))
        sites += [f"{rel}:pd.Series"] * text.count("pd.Series(")
    return sites


def test_python_map_kernels_go_through_row_kernel():
    sites = [
        site
        for rel, text in _package_sources()
        for site in _python_map_sites(rel, text)
    ]
    assert sites == [f"{MEDIA}:row_kernel"], (
        "Python map kernels outside llm/multimodal.py:row_kernel (route "
        f"them through it): {sites}"
    )


def test_row_kernel_gate_sees_the_hand_written_kernels():
    """The scan flags each shape row_kernel replaced (cut from the
    module before it): a mapInPandas closure per stage, each typing
    its own output columns through pandas."""
    sample = """
import pandas as pd

def decode_stub(multimodal):
    def decode(batches):
        for pdf in batches:
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64")})

    narrow = multimodal.select("doc_id", "payload")
    return narrow.mapInPandas(decode, DECODE_SCHEMA)


def decode_images(images):
    def decode(batches):
        for pdf in batches:
            rows = {k: [] for k in IMAGE_DECODE_SCHEMA.fieldNames()}
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "width": pd.Series(rows["width"], dtype="int32"),
                }
            )

    return images.select("doc_id", "payload").mapInPandas(
        decode, IMAGE_DECODE_SCHEMA
    )
"""
    assert _python_map_sites(MEDIA, sample) == [
        f"{MEDIA}:decode_stub",
        f"{MEDIA}:decode_images",
        f"{MEDIA}:pandas",
        f"{MEDIA}:pd.Series",
        f"{MEDIA}:pd.Series",
    ]
    assert _python_map_sites("other.py", sample) == [
        "other.py:decode_stub",
        "other.py:decode_images",
    ]


PLANS = PACKAGE + ".plans"
#: the plan-package modules a plan module may import
_PLAN_INFRA = {"registry", "goldens", "oracle_sql", "fragments"}


def _plan_import_faults(rel: str, text: str) -> list[str]:
    """``rel:line target (fault)`` for each import of a plan module
    that the layering forbids.  In ``plans/`` the faults are a plan
    module outside `_PLAN_INFRA` (``plan-to-plan``), an import inside
    a function (``function-local``) and one below the module's leading
    imports (``below module top``); outside ``plans/`` every plan
    import is a fault (``outside plans/``).  The package aggregator
    ``plans/__init__.py`` imports every plan module and is exempt."""
    mod = rel[: -len(".py")].replace(os.sep, ".")
    pkg = mod.rsplit(".", 1)[0]
    if mod == PLANS + ".__init__":
        return []
    in_plans = pkg == PLANS
    tree = ast.parse(text)
    body = [
        n for n in tree.body
        if not (isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant))
    ]
    head = set()
    for n in body:
        if not isinstance(n, (ast.Import, ast.ImportFrom)):
            break
        head.add(id(n))
    top_level = {id(n) for n in tree.body}

    def targets(node):
        if isinstance(node, ast.Import):
            return [a.name for a in node.names]
        base = node.module or ""
        if node.level:
            anchor = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
            base = ".".join(anchor + ([base] if base else []))
        if base == PLANS:
            return [f"{base}.{a.name}" for a in node.names]
        return [base]

    faults = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        for t in targets(node):
            if not t.startswith(PLANS + "."):
                continue
            name = t[len(PLANS) + 1:].split(".")[0]
            where = f"{rel}:{node.lineno} {name}"
            if not in_plans:
                faults.append(f"{where} (outside plans/)")
                continue
            if name not in _PLAN_INFRA:
                faults.append(f"{where} (plan-to-plan)")
            if id(node) not in top_level:
                faults.append(f"{where} (function-local)")
            elif id(node) not in head:
                faults.append(f"{where} (below module top)")
    return faults


def test_plan_modules_import_infrastructure_not_each_other():
    faults = [
        fault
        for rel, text in _package_sources()
        for fault in _plan_import_faults(rel, text)
    ]
    assert not faults, (
        "plan-module imports outside the layering (move the shared name "
        "into llm/, plans/oracle_sql.py or plans/fragments.py and import "
        f"it at module top): {faults}"
    )


def test_layering_gate_sees_the_cross_plan_imports():
    """The scan flags each shape the layering replaced (cut from the
    modules before it): a function-local plan-to-plan import dodging a
    cycle, a mid-module one, and a streaming channel importing a plan
    module for the video frame-id contract."""
    plan = """
from ..llm import dedup as DD
from .olap_q import funnel_over_events
from .oracle_sql import _REV_C4_SQL
from .registry import register

R = 6


def triangle_topk(spark, sf_dir):
    from .llm_q import _knn_graph_silver

    return _knn_graph_silver(spark, sf_dir)


from .goldens import GOLDEN_DIR  # noqa: E402
"""
    stream = """
def start_video_signature_channel(spark, sf_dir):
    from ..llm.multimodal import dhash_video_frames, encode_videos
    from ..plans.modal_q import VIDEO_EVERY_N, fid_clip, fid_frame, vid_fid
"""
    scale_q = os.path.join(PACKAGE, "plans", "scale_q.py")
    corpus_stream = os.path.join(PACKAGE, "streaming", "corpus_stream.py")
    assert _plan_import_faults(scale_q, plan) == [
        f"{scale_q}:3 olap_q (plan-to-plan)",
        f"{scale_q}:16 goldens (below module top)",
        f"{scale_q}:11 llm_q (plan-to-plan)",
        f"{scale_q}:11 llm_q (function-local)",
    ]
    assert _plan_import_faults(corpus_stream, stream) == [
        f"{corpus_stream}:4 modal_q (outside plans/)",
    ]


#: an aside name (``.old-``, ``_old-``; not ``threshold-``) or the swap
#: manifest
_ASIDE_LITERAL = re.compile(r"(?<![A-Za-z])old-|_MANIFEST")


def _swap_sites(rel: str, text: str) -> list[str]:
    """``rel:owner kind`` for each swap-protocol site in code, named by
    its enclosing top-level definition: an ``aside`` literal (an
    ``old-`` name or ``_MANIFEST``), a ``day=`` literal and an
    ``os.rename`` call.  Docstrings are prose and are skipped."""
    tree = ast.parse(text)
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(
            n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    sites = []
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if id(node) in docs:
                    continue
                if _ASIDE_LITERAL.search(node.value):
                    sites.append((node.lineno, f"{rel}:{owner} aside"))
                if "day=" in node.value:
                    sites.append((node.lineno, f"{rel}:{owner} day="))
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "rename"
                and getattr(node.func.value, "id", None) == "os"
            ):
                sites.append((node.lineno, f"{rel}:{owner} os.rename"))
    return [site for _, site in sorted(sites)]


def test_live_directories_are_replaced_through_sinks():
    sites = [
        site
        for rel, text in _package_sources()
        for site in _swap_sites(rel, text)
    ]

    def modules(kind):
        return {s.split(":")[0] for s in sites if s.endswith(" " + kind)}

    assert modules("aside") == {SINKS}, (
        "aside/manifest literals outside sources/sinks.py (publish "
        f"through sinks.swap_aside): {sorted(s for s in sites if 'aside' in s)}"
    )
    assert len(modules("day=")) == 1, (
        f"day= partition naming in several modules: {modules('day=')}"
    )
    renames = {
        s.rsplit(" ", 1)[0]
        for s in sites
        if s.endswith(" os.rename")
        and s.startswith(os.path.join(PACKAGE, "sources", ""))
        and not s.startswith(SINKS + ":")
    }
    assert renames <= {f"{SCRATCH}:build_once"}, (
        "os.rename in sources/ outside sinks.py and scratch.build_once "
        f"(swap through sinks.swap_aside): {sorted(renames)}"
    )


def test_swap_gate_sees_the_hand_rolled_swaps():
    """The scan flags each shape the one swap replaced (cut from the
    layout module before it): the day compaction's own aside, manifest
    and rename pair, and the bucketed compaction's per-bucket aside."""
    sample = """
def compact_day_partitions(spark, loc, max_files_per_day=1):
    \"\"\"Rename-aside, with ``_old-*`` leftovers.\"\"\"
    repair = repair_day_maintenance(loc)
    for entry in sorted(os.listdir(loc)):
        day_dir = os.path.join(loc, entry)
        if not entry.startswith("day=") or not os.path.isdir(day_dir):
            continue
        tmp = os.path.join(loc, f"_compact-{uuid.uuid4().hex}")
        spark.read.parquet(*files).coalesce(1).write.parquet(tmp)
        old = os.path.join(loc, f"_old-{uuid.uuid4().hex}")
        _write_day_manifest(day_dir, entry, snapshot, repl)
        os.rename(day_dir, old)
        try:
            os.rename(tmp, day_dir)
        except BaseException:
            os.rename(old, day_dir)
            raise


def compact_bucketed_table(spark, loc, max_files_per_bucket=1):
    for b, files in sorted(by_bucket.items()):
        old = os.path.join(loc, f"_old-{uuid.uuid4().hex}")
        os.makedirs(old)
        with open(os.path.join(old, "_MANIFEST"), "w") as fh:
            fh.write(final_name)
        for f in files:
            os.rename(os.path.join(loc, f), os.path.join(old, f))
"""
    day = f"{LAYOUT}:compact_day_partitions"
    bucketed = f"{LAYOUT}:compact_bucketed_table"
    assert _swap_sites(LAYOUT, sample) == [
        f"{day} day=",
        f"{day} aside",
        f"{day} os.rename",
        f"{day} os.rename",
        f"{day} os.rename",
        f"{bucketed} aside",
        f"{bucketed} aside",
        f"{bucketed} os.rename",
    ]
