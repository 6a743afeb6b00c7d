"""Structural guards for the driver-contract query battery
(plans/queries.py): the round-3 battery silently outgrew the driver's
50-entry correctness window and two previously-green oracle queries
went unverified (VERDICT r3 #1). These checks make that class of
regression impossible to land quietly."""

from __future__ import annotations


def _load():
    from opennre_spark.plans import queries as Q

    return Q.queries(), Q.oracle_sql()


def test_battery_is_exactly_fifty():
    q, o = _load()
    assert len(q) == 50
    # r6 shape: 43 oracle-bearing + 7 rows-only. VERDICT r5 #3:
    # ann_ivf_topk upgraded rows-only -> oracled (the approximate probe
    # now emits ivf_hit/recall vs the exhaustive truth); VERDICT r5 #4:
    # streaming_sessions_append (production emit-on-watermark path,
    # oracled over the watermark-closed prefix) replaces the rows-only
    # kg_triples_bag_one (subsumed: a6_bag_max oracles the max agg,
    # the full pipeline stays a bench headline + test_pipeline).
    assert sum(1 for n in q if n in o) == 43
    assert sum(1 for n in q if n not in o) == 7


def test_oracle_bearing_queries_come_first():
    """The driver evaluates the first 50 entries; every oracle-bearing
    query must precede every rows-only one so none of the DuckDB
    cross-checks can fall outside the window."""
    q, o = _load()
    names = list(q)
    rows_only_seen = False
    for name in names:
        if name in o:
            assert not rows_only_seen, (
                f"oracle-bearing {name!r} appears after a rows-only "
                "entry — it would risk falling outside the driver window"
            )
        else:
            rows_only_seen = True


def test_no_orphan_oracles_and_all_callables():
    q, o = _load()
    assert set(o) <= set(q), f"orphan oracles: {sorted(set(o) - set(q))}"
    for name, fn in q.items():
        assert callable(fn), name
    for name, sql in o.items():
        assert isinstance(sql, str) and sql.strip(), name


def _build_pyfiles_zip(out_dir) -> str:
    """Build the spark-submit artifact with tools/make_pyfiles.py into
    out_dir, as a user would (the zip is a build output, not in git)."""
    import os
    import subprocess
    import sys

    repo = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    zpath = os.path.join(str(out_dir), "opennre_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "make_pyfiles.py"), zpath],
        check=True, capture_output=True, timeout=120,
    )
    return zpath


def test_pyfiles_zip_contains_every_module(tmp_path):
    """The spark-submit artifact tools/make_pyfiles.py builds must
    contain every package module and data fixture WITH the same bytes as
    the working tree — a zip missing modules ships executors that
    silently lack them (this caught the round-3/4 additions missing
    from the round-2 build) or, worse, run OUTDATED copies of present
    ones (a name-only check let exactly that land in r5: relations.py
    was in the zip but predated the wiki20m_shaped schema)."""
    import os
    import zipfile

    repo = os.path.join(os.path.dirname(__file__), "..")
    zpath = _build_pyfiles_zip(tmp_path)
    zf = zipfile.ZipFile(zpath)
    names = set(zf.namelist())

    def check(rel: str, abspath: str):
        assert rel in names, f"{rel} missing from the make_pyfiles zip"
        with open(abspath, "rb") as f:
            assert zf.read(rel) == f.read(), (
                f"{rel} in the make_pyfiles zip is STALE (bytes differ "
                "from the working tree)"
            )

    for root, _, files in os.walk(os.path.join(repo, "opennre_spark")):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                ap = os.path.join(root, f)
                check(os.path.relpath(ap, repo), ap)
    fx = os.path.join(repo, "fixtures")
    for f in os.listdir(fx):
        if f.endswith((".json", ".npz")):
            check(f"fixtures/{f}", os.path.join(fx, f))


def test_pyfiles_zip_imports_standalone(tmp_path):
    """Executors import the package FROM the zip (spark-submit
    --py-files), so zipimport must resolve the package AND its data
    fixtures (rel2id json, seed-frozen weights) without a filesystem
    checkout — subprocess with only the zip on sys.path. Importing the
    package from the zip installs the zip re-read guard, so a later
    importlib.invalidate_caches() does not re-read the unchanged zip."""
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from opennre_spark import relations\n"
        "assert len(relations.rel2id_for('wiki80')) == 80\n"
        "from opennre_spark.functions.weights import default_model\n"
        "v, w = default_model(schema='reduced')\n"
        "assert w['fc_w'].shape[0] == 8\n"
        "import importlib, zipimport\n"
        "from opennre_spark import _worker\n"
        "assert zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches\n"
        "n = _worker.archive_reads\n"
        "importlib.invalidate_caches()\n"
        "assert _worker.archive_reads == n\n"
        "print('zip-import-ok')\n"
    )
    p = subprocess.run(
        [sys.executable, "-c", code, _build_pyfiles_zip(tmp_path)],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=120,
    )
    assert p.returncode == 0, p.stderr[-1500:]
    assert "zip-import-ok" in p.stdout
