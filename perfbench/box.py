"""The machine a run measures on, and the state it starts from.

``pin(root, run_dir)`` fixes everything a run would otherwise inherit
from the machine or from an earlier process, before Spark starts:

- ``SPARK_GRAFT_CPUS`` = the cores this process may use (the session
  factory otherwise assumes 32) and a driver heap sized to the machine
  (a quarter of RAM, at most 4g; the factory otherwise asks for 12g),
  starting at 1g: from the JVM's default start (1/64 of RAM) G1 grows
  the heap at timing-dependent points, and peak RSS of identical runs
  spread from 1.3 to 2.0 GB;
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVMs' ``java.io.tmpdir`` point
  into the run's own empty directory, and so do the catalog's landing
  zones (see ``redirect_landing_zones``) — every run starts from the
  same, empty scratch state and writes nothing outside the checkout;
- ``PYTHONPATH`` carries the checkout, so Arrow Python workers import
  the package from the same tree as the driver.

``describe()`` records the box next to every result.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_mem() -> str:
    return f"{max(1, min(4, ram_bytes() // (4 << 30)))}g"


def pin(root: str, run_dir: str) -> dict[str, str]:
    """Set the run's environment; returns the Spark confs that go with it."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts (the launcher too): temp files in the run
    # dir, and no hsperfdata file under the fixed /tmp path
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return {
        "spark.driver.extraJavaOptions": "-Xms1g",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.enabled": "false",
    }


def redirect_landing_zones(landing_root: str) -> None:
    """Root the catalog's per-fixture landing zones under ``landing_root``.

    The catalog caches persisted artifacts (indexes, models, landed
    copies) under a fixed ``/tmp/spark_graft_*`` prefix that outlives the
    process, so a run would otherwise start from whatever an earlier
    process left there.  This rebinds ``_landing_zone`` in every loaded
    registry module to the same build-once contract (key = format, size
    tag and the source file's size+mtime; build into a staging dir, then
    rename into place) under a root the run owns."""
    from airflow_crypto_btc_spark.plans import registry_more

    original = registry_more._landing_zone

    def _landing_zone(sf_dir: str, table: str, fmt: str, land) -> str:
        st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
        tag = os.path.basename(os.path.normpath(sf_dir))
        final = os.path.join(
            landing_root,
            f"spark_graft_{fmt}_{tag}_{st.st_size}_{st.st_mtime_ns}",
        )
        if not os.path.isdir(final):
            os.makedirs(landing_root, exist_ok=True)
            staging = f"{final}.staging"
            land(staging)
            os.rename(staging, final)
        return final

    for name, mod in list(sys.modules.items()):
        if name.startswith("airflow_crypto_btc_spark.") and getattr(
            mod, "_landing_zone", None
        ) is original:
            mod._landing_zone = _landing_zone


def source_hash(root: str) -> str:
    """sha256 over the package's sources — identifies the code measured
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "airflow_crypto_btc_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def commit(root: str) -> str | None:
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)}
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, env=env,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def describe(root: str, spark) -> dict:
    return {
        "cpus": cpus(),
        "ram_gib": round(ram_bytes() / (1 << 30), 1),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "commit": commit(root),
        "source_sha256": source_hash(root),
    }
