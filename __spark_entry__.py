"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real content lives in :mod:`hadoop_lab_spark.plans` — this module is
a thin adapter over the query registry so the Spark implementation and
its oracle can never drift apart. It is also where the driver's session
enters the engine, so it applies the engine confs (``tune_session``):
the lanes set none.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import subprocess

from pyspark.sql import DataFrame, SparkSession

from hadoop_lab_spark.plans.registry import REGISTRY, QueryFn, load_all_query_modules
from hadoop_lab_spark.session import tune_session

_SMOKE_SF_DIR = "/root/testdata/sf0.001"
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def _last_green_round() -> dict[str, int]:
    """Map query name -> most recent round with a GREEN driver row.

    The verify driver caps CORRECTNESS_r{N}.json at the first 50 entries
    of ``queries()`` in insertion order, so with 50+ registered queries
    the emission order decides which queries get (re)verified each round.
    A row counts as green only when the value-hash matched (or, for
    oracle-less rows-only checks, when no error was recorded) — an
    errored row means the query still needs a verified run.
    """
    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
            rows = json.load(open(path))
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            if row.get("hash_match") is False:
                continue
            seen[name] = max(seen.get(name, 0), rnd)
    return seen


def _correctness_rounds(repo_dir: str = _REPO_DIR) -> list[int]:
    """Round numbers with an existing CORRECTNESS file, ascending
    (ADVICE r10: the digest-resolution horizon is derived from the
    files that exist, not the former hardcoded range(rnd, 30) that
    silently disabled the check from round 30 onward)."""
    rounds: set[int] = set()
    for path in glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json")):
        try:
            rounds.add(int(os.path.basename(path).split("_r")[1].split(".")[0]))
        except (ValueError, IndexError):
            continue
    return sorted(rounds)


def _committed_plan_digests(repo_dir: str = _REPO_DIR) -> dict | None:
    """The parsed plan_digests.json at the LAST commit touching it —
    the in-round fallback pin (ADVICE r10: while a round's CORRECTNESS
    file is still untracked, nothing resolves through the round-commit
    path, and that window is exactly when a freshly recomposed lane
    needs flagging)."""
    try:
        commit = subprocess.run(
            ["git", "rev-list", "-1", "HEAD", "--", "plan_digests.json"],
            cwd=repo_dir, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        if not commit:
            return None
        blob = subprocess.run(
            ["git", "show", f"{commit}:plan_digests.json"],
            cwd=repo_dir, capture_output=True, text=True, timeout=10,
        )
        if blob.returncode != 0:
            return None
        return json.loads(blob.stdout)
    except (OSError, subprocess.SubprocessError, json.JSONDecodeError):
        return None


def _digests_at_round(rnd: int, repo_dir: str = _REPO_DIR) -> dict | None:
    """The parsed plan_digests.json (the whole pin file: lanes +
    normalizer_version) pinned when round ``rnd``'s CORRECTNESS
    file was committed — i.e. the digests of the code that round's green
    rows actually verified. Resolved from git (the driver commits each
    round's CORRECTNESS file against that round's final tree). If that
    commit predates plan_digests.json (it shipped in r9), fall back to
    the EARLIEST later round that has one — a conservative
    under-approximation that still catches every change made after the
    fallback pin. None when nothing resolves (offline / shallow clone):
    callers must then not flag the lane."""
    for k in (r for r in _correctness_rounds(repo_dir) if r >= rnd):
        path = f"CORRECTNESS_r{k:02d}.json"
        try:
            commit = subprocess.run(
                ["git", "rev-list", "-1", "HEAD", "--", path],
                cwd=repo_dir, capture_output=True, text=True, timeout=10,
            ).stdout.strip()
            if not commit:
                # The file exists but no commit touches it yet: the
                # in-round window (ADVICE r10) — exactly when a lane is
                # most likely freshly recomposed, and when the old code
                # went inert. Later rounds cannot be committed either,
                # so resolve from the committed-pin fallback below.
                break
            blob = subprocess.run(
                ["git", "show", f"{commit}:plan_digests.json"],
                cwd=repo_dir, capture_output=True, text=True, timeout=10,
            )
            if blob.returncode == 0:
                return json.loads(blob.stdout)
        except (OSError, subprocess.SubprocessError, json.JSONDecodeError):
            # ADVICE r11: a transient git/OSError on ONE round's lookup
            # must not silently disable the digest guard for the lane —
            # fall through to the committed-pin fallback below (which
            # returns None only on a total git outage).
            break
    return _committed_plan_digests(repo_dir)


def _digest_changed_lanes(
    seen: dict[str, int], repo_dir: str = _REPO_DIR
) -> set[str]:
    """Lanes whose CURRENT pinned plan digest differs from the digest
    pinned at their last green driver round (VERDICT r9 task #4: the r9
    ingest recompose kept its r8 green row, so the driver never
    re-verified the code that actually shipped). A changed digest means
    the green row verified a plan that no longer exists — the lane must
    sort as never-green so the next window re-verifies it.

    Comparison rule (ADVICE r10): when the historical pin was produced
    by the SAME normalizer version as the current one, compare the
    FULL-TEXT digest — a detail-level change that keeps the operator
    tree (changed join keys, lost PushedFilters, different
    partitioning) must also force re-verification. Across normalizer
    versions (a format-evolution re-pin re-hashes every lane's full
    text while changing zero plans — the r10 canonical-list-order
    change did exactly that to 147 lanes), fall back to the SKELETON
    digest so the whole registry isn't flagged as unverified. Pins
    with no normalizer_version field (pre-r11) count as a distinct
    version."""
    try:
        with open(os.path.join(repo_dir, "plan_digests.json")) as f:
            cur_pin = json.load(f)
    except (OSError, json.JSONDecodeError):
        return set()
    current = cur_pin.get("lanes", {})
    cur_ver = cur_pin.get("normalizer_version")
    changed: set[str] = set()
    cache: dict[int, dict | None] = {}
    for name, rnd in seen.items():
        cur = current.get(name)
        if not cur:
            continue
        if rnd not in cache:
            cache[rnd] = _digests_at_round(rnd, repo_dir)
        hist_pin = cache[rnd]
        if hist_pin is None:
            continue
        old = hist_pin.get("lanes", {}).get(name)
        if not old:
            continue
        # A pin with NO normalizer_version (pre-r11) counts as a distinct
        # version on either side (ADVICE r11: bare `==` read two
        # unversioned pins as same-version and full-text-compared them,
        # contradicting the rule above — safe-direction, but doc and
        # behavior must agree).
        hist_ver = hist_pin.get("normalizer_version")
        same_normalizer = hist_ver is not None and hist_ver == cur_ver
        if same_normalizer and old.get("digest") and cur.get("digest"):
            if old["digest"] != cur["digest"]:
                changed.add(name)
        elif (
            old.get("skeleton_digest")
            and cur.get("skeleton_digest")
            and old["skeleton_digest"] != cur["skeleton_digest"]
        ):
            changed.add(name)
    return changed


def _rotation_order() -> list[str]:
    """Registry names, least-recently-driver-verified first.

    Never-green queries sort before everything else; ties break by name
    for determinism. Each round's new CORRECTNESS file shifts the window,
    so all registered queries cycle through driver verification every
    ceil(N/50) rounds with no manual curation. A lane whose pinned plan
    digest changed since its last green round sorts as never-green: its
    green row verified code that no longer exists (see
    :func:`_digest_changed_lanes`).
    """
    load_all_query_modules()
    seen = _last_green_round()
    for name in _digest_changed_lanes(seen):
        seen.pop(name, None)
    return sorted(REGISTRY, key=lambda n: (seen.get(n, 0), n))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: case-sensitive word count over
    documents.text (the lab2 pipeline — scan → flatMap → agg)."""
    load_all_query_modules()
    return REGISTRY["wordcount"].fn(tune_session(spark), _SMOKE_SF_DIR)


def _tuned(fn: QueryFn) -> QueryFn:
    """``fn`` on the driver's session, after the engine confs are set."""
    return functools.wraps(fn)(lambda spark, sf_dir: fn(tune_session(spark), sf_dir))


def queries() -> dict[str, QueryFn]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions),
    emitted least-recently-driver-verified first (see _rotation_order),
    each tuning the session it is given."""
    return {name: _tuned(REGISTRY[name].fn) for name in _rotation_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query; omitted entries are
    genuinely non-SQL-expressible ops (driver records rows-only checks)."""
    load_all_query_modules()
    return {
        name: REGISTRY[name].oracle
        for name in _rotation_order()
        if REGISTRY[name].oracle
    }
