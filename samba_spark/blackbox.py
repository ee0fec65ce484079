"""Black-box (native program) execution over FileGroups — A5/A6/A7/A8.

Reference mechanics (core/.../rdd/AdvancedPipeRDD.scala:30-121): per input
FileGroup, FUSE-mount the files as an in-memory FS (vfs/MemoryFS.java:47-56),
run the program, walk the FS, flag written/created files ``modified``, emit a
new FileGroup depending on the input element. FUSE requires a privileged
container (reference examples/sciphy/README.md:6-12).

Ours: ``mapInPandas`` partition function — materialize the group's files
into a tmpfs dir (/dev/shm when present), ``subprocess.run``, rescan, diff
content → new row. No FUSE, no JVM fork, runs anywhere Python does. Lineage:
the output group's element depends on the input group's element
(AdvancedPipeRDD.scala:65 — 1-1).

Scale note (100 TB): group content is Arrow-batched through the Python
worker. Past a size threshold a file's content is a content-addressed blob
ref instead of inline bytes (sources/filegroup.spill_contents); the
materialize step here resolves refs transparently, so the execution
protocol is unchanged either way.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
from dataclasses import dataclass, field
from typing import Callable, Iterable, Optional

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from samba_spark.prov.model import PROV_DEPS, PROV_ID
from samba_spark.sources.filegroup import FILE_GROUP_SCHEMA, resolve_file_content


@dataclass
class ExecutionPlanning:
    """Per-run spec (reference advancedpipe/ExecutionPlanning.scala:9-21:
    command, env, redirectErrorStream, encoding, line callbacks, output
    filter, extraInfo rewriter)."""

    command: "str | list[str]"
    env: dict[str, str] = field(default_factory=dict)
    redirect_error_stream: bool = False
    encoding: str = "utf-8"
    keep_file: Optional[Callable[[str], bool]] = None
    rewrite_extra_info: Optional[Callable[[dict], dict]] = None
    check_exit_code: bool = True


def _aslist(v) -> list:
    """Arrow hands list columns back as numpy arrays after a
    mapInPandas round trip; normalize without boolean-evaluating them."""
    if v is None:
        return []
    if hasattr(v, "tolist"):
        return v.tolist()
    return list(v)


def _asdict(v) -> dict:
    """MapType arrives as dict or as a list of (k, v) tuples depending on
    the Arrow path; normalize."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return dict(v)
    return dict(_aslist(v))


def _tmp_root() -> Optional[str]:
    # In-memory FS analogue of the reference's MemoryFS: /dev/shm is tmpfs.
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def _execute_group(plan: ExecutionPlanning, extra_info: dict, files: list) -> dict:
    """Run one group through the native program. Returns dict with new
    files list, exit code, stdout, stderr."""
    with tempfile.TemporaryDirectory(dir=_tmp_root()) as td:
        originals: dict[str, bytes] = {}
        for f in files:
            rel = f["name"] if not f.get("path") else os.path.basename(f["path"])
            target = os.path.join(td, rel)
            content = resolve_file_content(f)
            with open(target, "wb") as fh:
                fh.write(content)
            originals[rel] = content

        cmd = plan.command
        shell = isinstance(cmd, str)
        env = dict(os.environ)
        env.update({k: str(v) for k, v in (extra_info or {}).items()})
        env.update(plan.env)
        proc = subprocess.run(
            cmd if not shell else ["/bin/bash", "-c", cmd],
            cwd=td,
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT if plan.redirect_error_stream else subprocess.PIPE,
            timeout=3600,
        )
        stdout = proc.stdout.decode(plan.encoding, errors="replace") if proc.stdout else ""
        stderr = (
            proc.stderr.decode(plan.encoding, errors="replace")
            if proc.stderr is not None
            else ""
        )
        if plan.check_exit_code and proc.returncode != 0:
            raise RuntimeError(
                f"black-box command failed (exit {proc.returncode}): "
                f"{cmd!r}\nstderr: {stderr[:2000]}"
            )

        new_files = []
        for root, _dirs, names in os.walk(td):
            for n in sorted(names):
                full = os.path.join(root, n)
                rel = os.path.relpath(full, td)
                if plan.keep_file is not None and not plan.keep_file(rel):
                    continue
                with open(full, "rb") as fh:
                    content = fh.read()
                modified = originals.get(rel) != content
                new_files.append(
                    {
                        "path": rel,
                        "name": os.path.basename(rel),
                        "size": len(content),
                        "modified": modified,
                        "content": content,
                        "content_ref": None,
                    }
                )
        new_extra = dict(extra_info or {})
        if plan.rewrite_extra_info is not None:
            new_extra = {
                k: str(v) for k, v in plan.rewrite_extra_info(new_extra).items()
            }
        return {
            "files": new_files,
            "extra_info": new_extra,
            "exit_code": proc.returncode,
            "stdout": stdout,
            "stderr": stderr,
        }


_OUT_FIELDS = list(FILE_GROUP_SCHEMA.fields) + [
    T.StructField("exit_code", T.IntegerType()),
    T.StructField("stdout", T.StringType()),
    T.StructField("stderr", T.StringType()),
]


def run_command(
    pdf,
    command: "str | list[str] | ExecutionPlanning | Callable",
    *,
    env: Optional[dict] = None,
    name: Optional[str] = None,
):
    """A5: run a native program against each FileGroup
    (reference rdd/FileGroupRDDFunctions.scala:31-71 — 4 overloads:
    Seq[String] | String | (String, Map) | functional ExecutionPlanning).

    ``command`` may be a string (bash -c), an argv list, an
    ExecutionPlanning, or a callable (extra_info, files) -> ExecutionPlanning
    for per-group planning."""
    from samba_spark.operators.wrapper import ProvDataFrame

    session = pdf.session
    elements = pdf.elements_enabled
    src = pdf.raw

    out_schema = T.StructType(list(_OUT_FIELDS))
    if elements:
        out_schema = T.StructType(
            list(_OUT_FIELDS)
            + [T.StructField(PROV_DEPS, T.ArrayType(T.StringType()))]
        )
        from samba_spark.operators.wrapper import _dep_expr

        src = src.withColumn("_deps_in", _dep_expr(src))

    def planner_for(extra_info, files) -> ExecutionPlanning:
        if isinstance(command, ExecutionPlanning):
            return command
        if callable(command) and not isinstance(command, (str, list)):
            return command(extra_info, files)
        plan = ExecutionPlanning(command=command)
        if env:
            plan.env = {k: str(v) for k, v in env.items()}
        return plan

    def _run(batches: Iterable[pd.DataFrame]):
        for batch in batches:
            out = []
            for _, row in batch.iterrows():
                extra = _asdict(row["extra_info"])
                files = _aslist(row["files"])
                plan = planner_for(extra, files)
                res = _execute_group(plan, extra, files)
                rec = {
                    "group_name": row["group_name"],
                    "extra_info": res["extra_info"],
                    "files": res["files"],
                    "exit_code": res["exit_code"],
                    "stdout": res["stdout"],
                    "stderr": res["stderr"],
                }
                if elements:
                    rec[PROV_DEPS] = _aslist(row["_deps_in"])
                out.append(rec)
            if out:
                yield pd.DataFrame(out)

    result = src.mapInPandas(_run, out_schema)
    if elements:
        result = ProvDataFrame._mint_ids(result)
    child = ProvDataFrame(
        session,
        result,
        op="runCommand",
        desc=name or f"runCommand({str(command)[:80]})",
        parents=[pdf],
        elements_enabled=elements,
    )
    return child


def run_scientific_application(pdf, command_template: str, *, name: Optional[str] = None):
    """A6: template-rendered runCommand (reference
    FileGroupRDDFunctions.scala:18-29 — Jtwig ``{{KEY}}`` substitution from
    the group's extraInfo, script resolved under the session scriptDir, run
    via /bin/bash -c)."""
    import re

    script_dir = pdf.session.script_dir

    def plan(extra_info, files) -> ExecutionPlanning:
        def sub(m):
            key = m.group(1).strip()
            if key not in (extra_info or {}):
                raise KeyError(
                    f"template variable '{{{{{key}}}}}' not in extra_info "
                    f"(have: {sorted((extra_info or {}).keys())})"
                )
            return str(extra_info[key])

        cmd = re.sub(r"\{\{([^}]+)\}\}", sub, command_template)
        if script_dir:
            first, _, rest = cmd.partition(" ")
            candidate = os.path.join(script_dir, first)
            if os.path.exists(candidate):
                cmd = candidate + (" " + rest if rest else "")
        return ExecutionPlanning(command=cmd)

    return run_command(pdf, plan, name=name or f"runScientificApplication({command_template[:60]})")


def save_files_at(pdf, directory: str, *, by: str = "group") -> None:
    """A8: write each FileGroup's files under ``directory/<key>/``
    (reference FileGroupRDDFunctions.scala:73-87 writes under
    dir/<dataElementID>/; ``by='element'`` reproduces that when element
    provenance is on, default is the stable group name).

    A key that names no subdirectory of its own (empty, ``.`` or ``..``)
    would write into ``directory`` or its parent: such groups are not
    written, and the call raises ``ValueError`` naming them."""
    os.makedirs(directory, exist_ok=True)
    use_element = by == "element" and pdf.elements_enabled
    key_col = PROV_ID if use_element else "group_name"
    src = pdf.raw if use_element else pdf.df
    rows = src.select(key_col, "files")

    def _write(partition):
        unsafe = []
        for row in partition:
            key = str(row[0]).replace("/", "_")
            if key in ("", ".", ".."):
                unsafe.append(row[0])
                continue
            sub = os.path.join(directory, key)
            os.makedirs(sub, exist_ok=True)
            for f in row[1] or []:
                with open(os.path.join(sub, f["name"]), "wb") as fh:
                    fh.write(resolve_file_content(f))
        return unsafe

    # one job, like foreachPartition, but it returns the rejected keys
    unsafe = rows.rdd.mapPartitions(_write).collect()
    if unsafe:
        raise ValueError(
            f"save_files_at: group keys {sorted(map(str, unsafe))} name no "
            f"subdirectory of {directory!r}"
        )


def save_files_at_async(pdf, directory: str, *, by: str = "group"):
    """A8 async variant (reference FileGroupRDDFunctions.scala:80-87 returns
    a FutureAction over the same job): kick the distributed write off on a
    background thread, return a ``concurrent.futures.Future`` that resolves
    to the output directory. The Spark job itself is already parallel — the
    future only unblocks the driver thread, exactly the reference's use."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)

    def _run() -> str:
        save_files_at(pdf, directory, by=by)
        return directory

    fut = pool.submit(_run)
    pool.shutdown(wait=False)
    return fut
