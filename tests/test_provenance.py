"""Q24 — provenance lineage invariants (FIXTURES.md, engine-internal oracle).

Pipeline: scan → filter → join → groupBy-agg on sf0.001 with element
provenance on. Invariants mirror the reference's capture semantics
(SURVEY.md §2.1)."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def pipeline(engine, sf_smoke):
    """scan(nation) ⋈ scan(region) → filter → agg, with elements."""
    nation = engine.read_parquet(f"{sf_smoke}/nation.parquet", "nation").with_elements()
    region = engine.read_parquet(f"{sf_smoke}/region.parquet", "region").with_elements()
    nation.persist_elements()
    region.persist_elements()
    filtered = nation.where(F.col("n_nationkey") >= 5, track_dropped=True)
    filtered.persist_elements()
    joined = filtered.join(
        region, on=filtered.raw.n_regionkey == region.raw.r_regionkey, how="inner"
    )
    joined.persist_elements()
    agged = joined.group_by("r_name").agg(F.count(F.lit(1)).alias("cnt"))
    agged.persist_elements()
    agged.collect()
    return {
        "nation": nation,
        "region": region,
        "filtered": filtered,
        "joined": joined,
        "agged": agged,
    }


def _deps_of_task(engine, task_id):
    return (
        engine.store.table("element_deps")
        .where(F.col("task_id") == task_id)
        .collect()
    )


def test_agg_n_to_1_lineage(engine, pipeline):
    """Invariant 1: every agg element's deps resolve only to join-task
    elements (reference Aggregator.scala:38-55)."""
    join_ids = {
        r.element_id
        for r in engine.store.table("elements")
        .where(F.col("task_id") == pipeline["joined"].task_id)
        .collect()
    }
    agg_deps = _deps_of_task(engine, pipeline["agged"].task_id)
    assert agg_deps, "agg task has no element deps"
    assert {d.dep_element_id for d in agg_deps} <= join_ids
    # n-1: total fan-in equals the join's element count (every join row
    # lands in exactly one group)
    assert len(agg_deps) == len(join_ids)


def test_filter_drop_sentinel(engine, pipeline, spark, sf_smoke):
    """Invariant 2: |passed| + |sentinel deps| = |input|
    (reference rdd/MapPartitionsRDD.scala:108-118)."""
    from samba_spark.operators.wrapper import DROP_SENTINEL_PREFIX

    n_input = spark.read.parquet(f"{sf_smoke}/nation.parquet").count()
    task = pipeline["filtered"].task_id
    deps = _deps_of_task(engine, task)
    sentinel = [d for d in deps if d.element_id.startswith(DROP_SENTINEL_PREFIX)]
    passed = [d for d in deps if not d.element_id.startswith(DROP_SENTINEL_PREFIX)]
    assert len(passed) + len(sentinel) == n_input
    assert len(passed) == pipeline["filtered"].count()


def test_join_lineage_two_sided(engine, pipeline):
    """Join outputs depend on exactly one element from each side
    (reference rdd/CoGroupedRDD.scala:86-133)."""
    nation_ids = {
        r.element_id
        for r in engine.store.table("elements")
        .where(F.col("task_id") == pipeline["filtered"].task_id)
        .collect()
    }
    region_ids = {
        r.element_id
        for r in engine.store.table("elements")
        .where(F.col("task_id") == pipeline["region"].task_id)
        .collect()
    }
    deps = _deps_of_task(engine, pipeline["joined"].task_id)
    by_elem = {}
    for d in deps:
        by_elem.setdefault(d.element_id, []).append(d.dep_element_id)
    assert by_elem
    for elem, dd in by_elem.items():
        assert len(dd) == 2, f"join element {elem} has {len(dd)} deps"
        assert len(set(dd) & nation_ids) == 1
        assert len(set(dd) & region_ids) == 1


def test_task_dag_matches_pipeline(engine, pipeline):
    """Invariant 3: task graph mirrors the written pipeline."""
    deps = {
        (r.task_id, r.dep_task_id)
        for r in engine.store.table("task_deps").collect()
    }
    p = pipeline
    assert (p["filtered"].task_id, p["nation"].task_id) in deps
    assert (p["joined"].task_id, p["filtered"].task_id) in deps
    assert (p["joined"].task_id, p["region"].task_id) in deps
    assert (p["agged"].task_id, p["joined"].task_id) in deps


def test_ignored_transparent(engine, sf_smoke):
    """Invariant 4: ignored ops absent from tasks; element deps flow through
    (reference DataElement.scala:34-46, RDD.scala:238-241)."""
    nation = engine.read_parquet(f"{sf_smoke}/nation.parquet", "nation").with_elements()
    nation.persist_elements()
    hidden = nation.select("n_nationkey", "n_name", "n_regionkey").ignore_it()
    after = hidden.where("n_regionkey = 2")
    after.persist_elements()
    after.collect()

    task_ids = {r.task_id for r in engine.store.table("tasks").collect()}
    assert hidden.task_id not in task_ids
    # Task-level: `after` depends directly on the source, skipping `hidden`.
    tdeps = {
        (r.task_id, r.dep_task_id)
        for r in engine.store.table("task_deps").collect()
    }
    assert (after.task_id, nation.task_id) in tdeps
    # Element-level: deps of `after` elements point at source elements.
    source_ids = {
        r.element_id
        for r in engine.store.table("elements")
        .where(F.col("task_id") == nation.task_id)
        .collect()
    }
    after_deps = {
        r.dep_element_id
        for r in engine.store.table("element_deps")
        .where(F.col("task_id") == after.task_id)
        .collect()
    }
    assert after_deps and after_deps <= source_ids


def test_transformation_group_scope(engine, sf_smoke):
    """A13 group invariants (TransformationGroupManager.scala:15-70)."""
    nation = engine.read_parquet(f"{sf_smoke}/nation.parquet", "nation")
    with engine.group("prep"):
        a = nation.select("n_nationkey", "n_regionkey")
        b = a.where("n_regionkey > 0")
    groups = engine.store.table("transformation_groups").collect()
    assert len(groups) == 1
    g = groups[0]
    assert g.name == "prep"
    assert g.finish_task == b.task_id
    assert a.task_id in g.init_tasks + g.intermediary_tasks
    # nesting is rejected
    with pytest.raises(RuntimeError):
        with engine.group("outer"):
            with engine.group("inner"):
                pass


def test_transitive_lineage_bfs(engine, sf_smoke):
    from samba_spark.prov import queries as pq

    nation = engine.read_parquet(f"{sf_smoke}/nation.parquet", "nation").with_elements()
    nation.persist_elements()
    step1 = nation.select("n_nationkey", "n_name")
    step1.persist_elements()
    step2 = step1.where("n_nationkey = 3")
    step2.persist_elements()
    step2.collect()
    leaf = engine.store.table("elements").where(
        F.col("task_id") == step2.task_id
    ).collect()
    assert len(leaf) == 1
    ancestors = pq.transitive_lineage(
        engine.store, engine.run_id, [leaf[0].element_id], direction="up"
    ).collect()
    # hop0 leaf, hop1 the select element, hop2 the source element
    assert {r.hop for r in ancestors} == {0, 1, 2}


def test_export_graph(engine, sf_smoke, tmp_path):
    nation = engine.read_parquet(f"{sf_smoke}/nation.parquet", "nation").with_elements()
    nation.persist_elements()
    out = tmp_path / "graph.json"
    g = engine.store.export_graph(engine.run_id, str(out))
    assert len(g["nodes"]) == 25
    assert out.exists()


def test_export_graph_distributed(engine, sf_smoke, tmp_path, spark):
    """A16 scale path: nodes/links land as JSON-lines directories via
    distributed writes (no driver collect), same graph content as the
    single-file export."""
    region = engine.read_parquet(
        f"{sf_smoke}/region.parquet", "region"
    ).with_elements()
    region.persist_elements()
    out = str(tmp_path / "graph")
    engine.store.export_graph_distributed(engine.run_id, out)
    nodes = spark.read.json(f"{out}/nodes")
    links = spark.read.json(f"{out}/links")
    assert nodes.count() == 5
    assert {"id", "task", "values"} <= set(nodes.columns)
    assert links.count() == 0  # source elements have no deps


def test_export_graph_quoted_run_id_exports_nothing(spark, sf_smoke, tmp_path):
    """The run id is compared as a value, not spliced into SQL: a quoted
    id matches no run, and each real id exports only its own run."""
    from samba_spark.session import ProvSession

    prov_dir = str(tmp_path / "prov_two_runs")
    run_ids = []
    for name in ("export_a", "export_b"):
        ps = ProvSession(spark, name=name, prov_dir=prov_dir)
        ps.read_parquet(f"{sf_smoke}/region.parquet").with_elements().persist_elements()
        run_ids.append(ps.run_id)
        ps.stop()
    store = ps.store
    quoted = "x' OR '1'='1"
    g = store.export_graph(quoted, str(tmp_path / "quoted.json"))
    assert g == {"nodes": [], "links": []}
    out = str(tmp_path / "quoted_dist")
    store.export_graph_distributed(quoted, out)
    assert spark.read.schema("id string").json(f"{out}/nodes").count() == 0
    for run_id in run_ids:
        g = store.export_graph(run_id, str(tmp_path / f"{run_id}.json"))
        assert len(g["nodes"]) == 5


def test_dedup_pipeline_with_element_lineage(engine, spark):
    """Layer A composes with the extension surface: exact dedup (x1's
    digest-groupBy shape) run THROUGH the provenance wrapper — every
    surviving group element deps on all of its duplicate occurrences,
    like `distinct` but keyed on the content digest."""
    rows = [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, "ccc")]
    src = engine.create_dataframe(
        rows, "doc_id long, text string", name="docs"
    ).with_elements()
    src.persist_elements()
    digested = src.with_column("digest", F.md5(F.col("text")))
    keep = digested.group_by("digest").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )
    keep.persist_elements()
    got = {r.keep_doc_id: r.n_dups for r in keep.collect()}
    assert got == {1: 3, 2: 1, 5: 1}
    deps = _deps_of_task(engine, keep.task_id)
    # n-1 capture: total fan-in equals the source row count (each doc row
    # lands in exactly one digest group)
    assert len(deps) == len(rows)


def test_column_lineage_join_agg_window_explode(spark, sf_smoke):
    """Column lineage off the analyzed plan: pass-through, derived,
    multi-source, literal-only, window, and explode columns all resolve
    to the right (table, column) edge sets."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from samba_spark.prov.column_lineage import column_lineage_map

    n = spark.read.parquet(f"{sf_smoke}/nation.parquet")
    r = spark.read.parquet(f"{sf_smoke}/region.parquet")
    w = Window.partitionBy("r_name").orderBy("n_nationkey")
    df = (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .select(
            "r_name",
            (F.col("n_nationkey") + F.col("r_regionkey")).alias("mix"),
            F.lit(1).alias("one"),
            F.row_number().over(w).alias("rn"),
        )
    )
    got = column_lineage_map(df)
    assert got["r_name"] == {("region", "r_name")}
    assert got["mix"] == {("nation", "n_nationkey"), ("region", "r_regionkey")}
    assert got["one"] == set()
    # window function refs: partition + order keys
    assert got["rn"] == {("region", "r_name"), ("nation", "n_nationkey")}

    d2 = n.select(F.explode(F.split("n_name", " ")).alias("tok"))
    assert column_lineage_map(d2)["tok"] == {("nation", "n_name")}


def test_provdataframe_column_lineage_method(spark, sf_smoke, tmp_path):
    from pyspark.sql import functions as F

    from samba_spark.session import ProvSession

    ps = ProvSession(spark, name="cl_m", prov_dir=str(tmp_path / "prov"))
    try:
        n = ps.read_parquet(f"{sf_smoke}/nation.parquet", "nation")
        out = n.select(
            F.col("n_nationkey").alias("k"),
            F.upper(F.col("n_name")).alias("U"),
        )
        rows = sorted(map(tuple, out.column_lineage().collect()))
        assert rows == [
            ("U", "nation", "n_name"),
            ("k", "nation", "n_nationkey"),
        ]
    finally:
        ps.stop()


def test_vacuum_run_retention(spark, sf_smoke, tmp_path):
    """vacuum(keep_latest=1) keeps only the newest run's rows in every
    table (driver-side and element-level), and reports the drop."""
    from samba_spark.session import ProvSession

    prov_dir = str(tmp_path / "prov_vac")
    run_ids = []
    for name in ("vac_old", "vac_new"):
        ps = ProvSession(spark, name=name, prov_dir=prov_dir)
        df = ps.read_parquet(f"{sf_smoke}/nation.parquet").with_elements()
        df.where("n_nationkey >= 10").select("n_nationkey").persist_elements()
        run_ids.append(ps.run_id)
        ps.stop()

    store = ps.store
    assert store.table("executions").count() == 2
    res = store.vacuum(keep_latest=1)
    assert res["kept_runs"] == [run_ids[1]]
    assert res["dropped_runs"] == [run_ids[0]]
    for t in ("executions", "tasks", "elements", "element_deps"):
        runs = {r["run_id"] for r in store.table(t).select("run_id").collect()}
        assert runs <= {run_ids[1]}, (t, runs)
    assert store.table("executions").count() == 1
    # idempotent when nothing to drop
    res2 = store.vacuum(keep_latest=1)
    assert res2["dropped_runs"] == []


def test_vacuum_keep_run_ids_accepts_generator(spark, sf_smoke, tmp_path):
    """keep_run_ids may be a one-shot iterable (ADVICE r3: the old code
    rebuilt set(keep_run_ids) per element, exhausting a generator after
    the first run and silently dropping runs the caller asked to KEEP)."""
    from samba_spark.session import ProvSession

    prov_dir = str(tmp_path / "prov_vac_gen")
    run_ids = []
    for name in ("gen_a", "gen_b", "gen_c"):
        ps = ProvSession(spark, name=name, prov_dir=prov_dir)
        ps.read_parquet(f"{sf_smoke}/region.parquet").count()
        run_ids.append(ps.run_id)
        ps.stop()

    store = ps.store
    keep_two = run_ids[1:]  # keep the two newest
    res = store.vacuum(keep_run_ids=(r for r in keep_two))
    assert sorted(res["kept_runs"]) == sorted(keep_two)
    assert res["dropped_runs"] == [run_ids[0]]
    runs = {r["run_id"] for r in store.table("executions").collect()}
    assert runs == set(keep_two)


def test_column_lineage_union_maps_both_branches(spark, sf_smoke):
    """Union outputs must resolve to BOTH source tables (VERDICT r3 item
    6: the analyzed plan reuses the first child's attribute ids, which
    used to hide every branch after the first)."""
    from pyspark.sql import functions as F

    from samba_spark.prov.column_lineage import column_lineage_map

    nation = spark.read.parquet(f"{sf_smoke}/nation.parquet")
    region = spark.read.parquet(f"{sf_smoke}/region.parquet")
    left = nation.select(
        F.col("n_name").alias("name"), F.col("n_nationkey").alias("key")
    )
    right = region.select(
        F.col("r_name").alias("name"), F.col("r_regionkey").alias("key")
    )
    got = column_lineage_map(left.unionByName(right))
    assert got["name"] == {("nation", "n_name"), ("region", "r_name")}
    assert got["key"] == {("nation", "n_nationkey"), ("region", "r_regionkey")}

    # downstream of the union: derived columns keep both branches
    agg = (
        left.unionByName(right)
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"), F.max("key").alias("top_key"))
    )
    got2 = column_lineage_map(agg)
    assert got2["name"] == {("nation", "n_name"), ("region", "r_name")}
    assert got2["top_key"] == {("nation", "n_nationkey"), ("region", "r_regionkey")}

    # three-branch union: all three tables surface
    cust = spark.read.parquet(f"{sf_smoke}/customer.parquet")
    tri = left.unionByName(right).unionByName(
        cust.select(F.col("c_name").alias("name"), F.col("c_custkey").alias("key"))
    )
    got3 = column_lineage_map(tri)
    assert got3["name"] == {
        ("nation", "n_name"), ("region", "r_name"), ("customer", "c_name")
    }


def test_end_time_survives_midrun_flush(spark, sf_smoke, tmp_path):
    """A mid-run flush() (or any table() read, which flushes implicitly)
    used to make stop()'s end_time update a silent no-op: the open
    executions row left the buffer with end_time NULL and nothing ever
    completed it (found by the round-9 /verify pass — bench.py's
    prov-overhead probe flushes before stop on every run). The store now
    keeps the run's row in memory and rewrites its file at every flush."""
    from samba_spark.session import ProvSession

    ps = ProvSession(spark, name="midflush", prov_dir=str(tmp_path / "p"))
    ps.read_parquet(f"{sf_smoke}/region.parquet").select("r_name").collect()
    ps.store.flush()  # open row leaves the buffer with end_time NULL
    mid = ps.store.table("executions").collect()  # also flushes
    assert len(mid) == 1 and mid[0]["end_time"] is None
    ps.stop()
    fin = ps.store.table("executions").collect()
    assert len(fin) == 1, "dedup must keep exactly one row per run"
    assert fin[0]["end_time"] is not None


def test_failed_metadata_write_leaves_no_visible_part(tmp_path, monkeypatch):
    """Metadata parquet is written under a dot-prefixed temp name and
    renamed into place, so a reader that does not wait for a flush never
    opens a half-written file: a write that fails midway leaves no
    ``part-*.parquet`` (and no temp file) behind."""
    import pyarrow.parquet as pq

    from samba_spark.prov import model
    from samba_spark.prov.store import _write_rows_parquet

    d = tmp_path / "executions"
    _write_rows_parquet(
        str(d / "part-r0.parquet"), [("r0", "ok", 1.0, None)], model.EXECUTIONS
    )
    written = sorted(p.name for p in d.iterdir())
    assert len(written) == 1 and written[0].startswith("part-")

    def torn_write(table, where, **kw):
        with open(where, "wb") as fh:
            fh.write(b"PAR1")  # header only, then the disk fills up
        raise OSError("no space left on device")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError):
        _write_rows_parquet(
            str(d / "part-r1.parquet"), [("r1", "torn", 2.0, None)], model.EXECUTIONS
        )
    assert sorted(p.name for p in d.iterdir()) == written


def test_sql_records_name_as_description(engine):
    """ProvSession.sql records ``name=`` as the task description (the
    query text when no name is given)."""
    named = engine.sql("SELECT 1 AS one", name="x")
    unnamed = engine.sql("  SELECT 2 AS two ")
    engine.store.flush()
    tasks = engine.store.read_arrow(
        "tasks", ["task_id", "description"], run_id=engine.run_id
    ).to_pylist()
    desc = {r["task_id"]: r["description"] for r in tasks}
    assert desc[named.task_id] == "x"
    assert desc[unnamed.task_id] == "SELECT 2 AS two"


def _disk(prov_dir, table):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(prov_dir, table)).to_pylist()


def test_task_edits_after_flush_reach_disk(spark, sf_smoke, tmp_path):
    """set_name (A12), ignore_it (A11) and set_schema (A10) made after a
    mid-run flush() replace the flushed task rows on disk."""
    from samba_spark.session import ProvSession

    prov_dir = str(tmp_path / "p")
    ps = ProvSession(spark, name="edits", prov_dir=prov_dir)
    src = ps.read_parquet(f"{sf_smoke}/nation.parquet", "nation")
    sel = src.select("n_nationkey", "n_name")
    flt = sel.where(F.col("n_nationkey") >= 5)
    ps.store.flush()
    sel.set_name("renamed-after-flush")
    flt.ignore_it()
    src.set_schema(lambda df: F.array(F.array(F.col("n_name"))))
    ps.stop()

    tasks = {r["task_id"]: r for r in _disk(prov_dir, "tasks")}
    assert set(tasks) == {src.task_id, sel.task_id}
    assert tasks[sel.task_id]["description"] == "renamed-after-flush"
    assert tasks[src.task_id]["schema_fields"] is None
    assert tasks[sel.task_id]["schema_fields"] == ["n_nationkey", "n_name"]
    deps = _disk(prov_dir, "task_deps")
    assert [(d["task_id"], d["dep_task_id"]) for d in deps] == [
        (sel.task_id, src.task_id)
    ]


def test_metadata_one_file_per_run_after_three_flushes(spark, sf_smoke, tmp_path):
    """However often a run flushes, each metadata table holds one file for
    it, and executions one row."""
    from samba_spark.session import ProvSession

    prov_dir = str(tmp_path / "p")
    ps = ProvSession(spark, name="three", prov_dir=prov_dir)
    df = ps.read_parquet(f"{sf_smoke}/region.parquet", "region")
    for i in range(3):
        with ps.group(f"g{i}"):
            df = df.select("r_regionkey", "r_name").where(F.col("r_regionkey") >= i)
        ps.store.flush()
    ps.stop()

    for table in ("executions", "tasks", "task_deps", "transformation_groups"):
        assert os.listdir(os.path.join(prov_dir, table)) == [f"{ps.run_id}.parquet"]
    assert len(_disk(prov_dir, "tasks")) == 7
    assert len(_disk(prov_dir, "transformation_groups")) == 3
    (ex,) = _disk(prov_dir, "executions")
    assert ex["run_id"] == ps.run_id and ex["end_time"] is not None


def test_vacuum_then_flush_keeps_one_row_per_task(spark, sf_smoke, tmp_path):
    """A live run that vacuums an older one and flushes again rewrites its
    own files, one row per task and one executions row, and the dropped
    run's files stay gone."""
    from samba_spark.session import ProvSession

    prov_dir = str(tmp_path / "p")
    old = ProvSession(spark, name="old", prov_dir=prov_dir)
    old.read_parquet(f"{sf_smoke}/region.parquet", "region").count()
    old.stop()

    new = ProvSession(spark, name="new", prov_dir=prov_dir)
    a = new.read_parquet(f"{sf_smoke}/nation.parquet", "nation")
    b = a.where(F.col("n_nationkey") >= 5)
    new.store.flush()
    res = new.store.vacuum(keep_latest=1)
    assert res["dropped_runs"] == [old.run_id]
    c = b.select("n_name")
    b.set_name("b-renamed")
    new.store.flush()
    new.stop()

    tasks = _disk(prov_dir, "tasks")
    assert sorted(t["task_id"] for t in tasks) == sorted(
        [a.task_id, b.task_id, c.task_id]
    )
    assert {t["run_id"] for t in tasks} == {new.run_id}
    (ex,) = _disk(prov_dir, "executions")
    assert ex["run_id"] == new.run_id and ex["end_time"] is not None
    for table in ("executions", "tasks"):
        assert not os.path.exists(
            os.path.join(prov_dir, table, f"{old.run_id}.parquet")
        )


def test_set_schema_sets_element_values(engine, sf_smoke):
    """A10: persist_elements writes ``values`` from the schema function,
    not the default stringified columns."""
    n = engine.read_parquet(f"{sf_smoke}/nation.parquet", "nation").with_elements()
    small = n.where(F.col("n_nationkey") < 3)
    small.set_schema(lambda df: F.array(
        F.array(F.concat(F.lit("k="), F.col("n_nationkey").cast("string"))),
        F.array(F.lit("tail")),
    ))
    small.persist_elements()
    rows = (
        engine.store.table("elements")
        .where(F.col("task_id") == small.task_id)
        .collect()
    )
    assert sorted(r["values"] for r in rows) == [
        [[f"k={k}"], ["tail"]] for k in range(3)
    ]


def test_failed_drain_does_not_hide_later_writes(spark, tmp_path):
    """A queued write that fails surfaces from flush(), and only after
    every later queued write has finished."""
    from concurrent.futures import wait

    import pyarrow.parquet as pq

    from samba_spark.prov.store import ProvStore

    store = ProvStore(spark, str(tmp_path / "p"))
    store.append_elements(spark.range(1).select(F.raise_error(F.lit("boom"))))
    store.schedule_flush()
    # the failing drain is over before the next
    assert not wait(store._flush_futures, timeout=120).not_done
    good = spark.range(50000).select(
        F.lit("r").alias("run_id"),
        F.lit("t").alias("task_id"),
        F.col("id").cast("string").alias("element_id"),
        F.col("id").cast("string").alias("dep_element_id"),
    )
    store.append_element_deps(good)
    store.schedule_flush()
    futures = list(store._flush_futures)
    with pytest.raises(Exception, match="boom"):
        store.flush()
    assert all(f.done() for f in futures)
    assert pq.read_table(str(tmp_path / "p" / "element_deps")).num_rows == 50000
    store.close()


def test_run_id_must_be_a_file_name_token(spark, tmp_path):
    from samba_spark.prov.store import ProvStore

    store = ProvStore(spark, str(tmp_path / "p"))
    for bad in ("../x", "a/b", "*", "a.b", "", "x\n"):
        with pytest.raises(ValueError, match="file-name token"):
            store.write_execution(bad, "n", 1.0)
    store.flush()
    assert not os.path.exists(str(tmp_path / "p" / "executions"))
