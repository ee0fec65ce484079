"""``workflow``: a SciPhy-shaped black-box run (examples/sciphy_like.py).

One pass = ``file_groups`` over the generated groups → element capture →
three ``run_scientific_application`` stages of POSIX tools →
``ArtifactStore.commit`` → ``save_files_at`` → ``ProvSession.stop``.
Every pass gets fresh store, artifact and output directories. The seed
picks the sequences and which groups repeat an earlier group's input, so
some stage outputs repeat and blob dedup has work to do."""

from __future__ import annotations

import hashlib
import os
import shlex
import shutil

import duckdb

from perfbench import inputs, oracles
from perfbench.harness import median, store_metrics, store_summary

SIZES = {"full": (3, 40), "smoke": (2, 5)}  # (groups, lines of 60 bases)

# Each stage also appends one line to the pass's execution log, so
# re-executed stages show up as blackbox.exec_ratio > 1.
STAGES = [
    ("Align", "tr ACGT TGCA < input.fasta > {{NAME}}.aligned"),
    ("Count", "wc -l < {{NAME}}.aligned > {{NAME}}.lines"),
    ("Digest", "sha256sum {{NAME}}.aligned > {{NAME}}.model"),
]


def expected_files(name: str, content: bytes) -> dict[str, bytes]:
    """What the three stages leave in a group, recomputed in Python."""
    aligned = content.translate(bytes.maketrans(b"ACGT", b"TGCA"))
    lines = aligned.count(b"\n")
    digest = hashlib.sha256(aligned).hexdigest()
    return {
        "input.fasta": content,
        f"{name}.aligned": aligned,
        f"{name}.lines": f"{lines}\n".encode(),
        f"{name}.model": f"{digest}  {name}.aligned\n".encode(),
    }


class Workflow:
    name = "workflow"
    item = "file group"
    loop = "batch"
    mix = {"pass": 1.0}
    cycle = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_groups, self.lines = SIZES[ctx.size]
        self.sizes = {"groups": self.n_groups, "bytes_per_input": self.lines * 61,
                      "stages": len(STAGES)}
        self.groups = None
        self.dir = None

    def kind(self, i):
        return "pass"

    def setup(self, k):
        from samba_spark.sources.filegroup import FileGroupTemplate

        if self.dir:
            shutil.rmtree(self.dir, ignore_errors=True)
        self.dir = os.path.join(self.ctx.work, f"groups{k}")
        with self.ctx.tracer.span("bench.inputs"):
            self.groups = inputs.sequence_groups(
                self.dir, self.ctx.seed, self.n_groups, self.lines)
        self.templates = [
            FileGroupTemplate.of_file(g["path"], name=g["name"], NAME=g["name"])
            for g in self.groups
        ]

    def _pass(self, tag):
        from samba_spark.artifacts import ArtifactStore
        from samba_spark.blackbox import run_scientific_application, save_files_at
        from samba_spark.session import ProvSession

        t = self.ctx.tracer
        root = os.path.join(self.ctx.work, f"pass-{tag}")
        os.makedirs(root)
        log = os.path.join(root, "execs.log")
        with t.span("session.open"):
            ps = ProvSession(self.ctx.spark, name="workflow",
                             prov_dir=os.path.join(root, "prov"))
        if t.enabled:
            t.patch(ps.store, "flush", "store.flush")
        with t.span("filegroup.read") as rec:
            groups = ps.file_groups(*self.templates, name="sequences")
            t.materialize(groups.raw, rec)
        with t.span("wrapper.plan"):
            pdf = groups.with_elements()
        stage_inputs = []  # traced passes: what each stage receives
        for label, cmd in STAGES:
            if t.enabled:
                stage_inputs.append(pdf.raw)
            with t.span(f"blackbox.stage.{label}") as rec:
                pdf = run_scientific_application(
                    pdf, f"{cmd} && echo {label} >> {shlex.quote(log)}", name=label)
                if t.enabled:
                    pdf.cache()
                    t.materialize(pdf.raw, rec)
            with t.span("wrapper.persist"):
                pdf.persist_elements()
            if t.enabled:
                ps.store.flush()
        art = ArtifactStore(os.path.join(root, "artifacts"))
        with t.span("artifacts.commit"):
            art.commit(pdf, task_desc="Digest")
        with t.span("artifacts.save"):
            save_files_at(pdf, os.path.join(root, "out"))
        with t.span("session.stop"):
            ps.stop()
        return {"items": self.n_groups, "root": root, "run_id": ps.run_id,
                "blob_dir": art.blob_dir, "stage_inputs": stage_inputs}

    def warmup(self):
        info = self._pass("warm")
        shutil.rmtree(info["root"], ignore_errors=True)

    def op(self, i):
        return self._pass(i)

    def after_op(self, i, info, rec):
        """Outputs byte-equal to the Python recomputation; every manifest
        sha256 equal to hashlib over those bytes, with the blob present.
        Traced passes also sum the file sizes each stage received."""
        from pyspark.sql import functions as F

        root = info["root"]
        staged = sum(
            df.select(F.explode("files.size").alias("n")).agg(F.sum("n")).first()[0]
            for df in info["stage_inputs"])
        try:
            with open(os.path.join(root, "execs.log")) as fh:
                execs = sum(1 for _ in fh)
            stats = oracles.store_stats(os.path.join(root, "prov"))
            blobs = sum(len(f) for _d, _s, f in os.walk(info["blob_dir"]))
            want = {g["name"]: expected_files(g["name"], g["content"]) for g in self.groups}
            bad = []
            for name, files in want.items():
                for fname, content in files.items():
                    path = os.path.join(root, "out", name, fname)
                    if not os.path.exists(path):
                        bad.append(f"missing {name}/{fname}")
                        continue
                    with open(path, "rb") as fh:
                        if fh.read() != content:
                            bad.append(f"{name}/{fname} differs")
            man_dir = os.path.join(root, "artifacts", "runs", info["run_id"])
            con = duckdb.connect()
            try:
                manifest = con.execute(
                    "SELECT group_name, file_name, sha256 FROM read_parquet("
                    f"{oracles.lit(os.path.join(man_dir, '*', '*.parquet'))})").fetchall()
            finally:
                con.close()
            for group, fname, sha in manifest:
                content = want.get(group, {}).get(fname)
                if content is None or hashlib.sha256(content).hexdigest() != sha:
                    bad.append(f"manifest sha256 of {group}/{fname}")
                elif not os.path.exists(os.path.join(info["blob_dir"], sha[:2], sha)):
                    bad.append(f"blob of {group}/{fname} missing")
            if len(manifest) != sum(len(f) for f in want.values()):
                bad.append(f"manifest has {len(manifest)} files")
        finally:
            shutil.rmtree(root, ignore_errors=True)
        rec["store"] = stats
        rec["workflow"] = {"execs": execs, "files": len(manifest), "blobs_new": blobs,
                           "bytes_staged": staged}
        if bad:
            rec["failure"] = "; ".join(bad[:5])

    def install_tracing(self, tracer):
        pass  # spans are opened by _pass() itself

    def gate(self):
        return []  # every pass is checked in after_op

    def extra_metrics(self, plain):
        return store_summary(plain)

    def layer_metrics(self, per_op, spans, plain, traced):
        reads = [s for s in spans if s["name"] == "filegroup.read"]
        wf = [r["workflow"] for r in plain if "workflow" in r] or \
             [r["workflow"] for r in traced if "workflow" in r]
        return {
            "filegroup.read_s": per_op.get("filegroup.read", 0.0),
            "filegroup.jobs": median([s.get("jobs", 0) for s in reads]),
            "blackbox.stage_s": sum(
                v for k, v in per_op.items() if k.startswith("blackbox.stage.")),
            "blackbox.execs": median([w["execs"] for w in wf]),
            "blackbox.exec_ratio": median([w["execs"] for w in wf]) / (self.n_groups * len(STAGES)),
            "blackbox.bytes_staged": median(
                [r["workflow"]["bytes_staged"] for r in traced if "workflow" in r]),
            "artifacts.commit_s": per_op.get("artifacts.commit", 0.0),
            "artifacts.save_s": per_op.get("artifacts.save", 0.0),
            "artifacts.files": median([w["files"] for w in wf]),
            "artifacts.blobs_new": median([w["blobs_new"] for w in wf]),
            "artifacts.new_blob_ratio": median([w["blobs_new"] / w["files"] for w in wf if w["files"]]),
            **store_metrics(plain + traced),
        }
