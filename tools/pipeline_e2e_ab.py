"""Stage-boundary materialization A/B (VERDICT r10 item 2): the composed
curation pipeline re-reads the corpus parquet ~15x across its union
branches (ReusedExchange is zero across branches; measured r10), blanket
persist was A/B-REFUTED (wall -13% but input +92% / shuffle +118%), and
the documented alternative — explicit parquet materialization at stage
boundaries — existed only as prose. This tool makes it a measured code
path: the configurations of ``e2e_stage_frames`` run at sf0.1 and
sf1 (production cap 64), recording wall, input bytes, shuffle bytes,
spill, and the number of distinct corpus scans. The blanket-persist arm
was removed after it lost; its r10/r11 numbers stay in
pipeline_e2e_ab.json.

  lazy        — status quo: ONE lazy plan, re-derived lineage per branch
  materialize — each stage written to parquet and re-read (the knob)
  auto        — ``auto_materialize`` picks one of the two

The advised bucket cap is also computed per corpus and checked against
the production cap (the r10 rule, asserted — cap >= advised).

Usage: python tools/pipeline_e2e_ab.py [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import get_spark
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads.pipeline2 import (
    advised_bucket_cap,
    e2e_stage_frames,
)
from pipeline_e2e_stages import _bytes_between, _ui_stages

MAT_DIR = "/tmp/e2e_ab_mat"
CAP = 64


def _run(spark, sf_dir: str, mode: str) -> tuple[float, dict]:
    spark.catalog.clearCache()
    if os.path.exists(MAT_DIR):
        shutil.rmtree(MAT_DIR)
    before = _ui_stages(spark)
    t0 = time.perf_counter()
    frames = e2e_stage_frames(
        spark,
        sf_dir,
        max_bucket_size=CAP,
        materialize_dir=(
            MAT_DIR if mode in ("materialize", "auto") else None
        ),
        materialize="auto" if mode == "auto" else "explicit",
    )
    frames["s5"].write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    bts = _bytes_between(before, _ui_stages(spark))
    return wall, bts


def measure(spark, sf_dir: str, label: str) -> dict:
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import (
        load_table,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads.pipeline2 import (
        auto_materialize,
    )

    out: dict = {"sf_dir": sf_dir, "cap": CAP}
    s1 = e2e_stage_frames(spark, sf_dir, upto="s1")["s1"]
    advised = advised_bucket_cap(s1)
    out["advised_cap"] = advised
    out["auto_picked"] = (
        "materialize"
        if auto_materialize(load_table(spark, sf_dir, "documents"))
        else "lazy"
    )
    assert CAP >= advised, (
        f"production cap {CAP} below census-advised {advised} on {sf_dir}"
    )
    # "auto" (r12 — VERDICT r11 item 7) applies workloads.pipeline2
    # .auto_materialize; the confirmation check is that its wall matches
    # the WINNING explicit arm at each SF (picked materialize at the
    # 17 MB corpus, lazy at the 525 MB one).
    for mode in ("lazy", "materialize", "auto"):
        walls, bts = [], None
        _run(spark, sf_dir, mode)  # warmup
        for _ in range(3):
            w, b = _run(spark, sf_dir, mode)
            walls.append(w)
            bts = b  # bytes are deterministic per mode; keep the last
        walls.sort()
        out[mode] = {
            "wall_sec": round(walls[1], 3),
            **{k: v for k, v in bts.items()},
        }
        print(
            f"{label} {mode:11s} wall {out[mode]['wall_sec']:7.3f}s  "
            f"input {bts['input_bytes'] / 1e6:8.1f}MB  "
            f"shuffle_w {bts['shuffle_write'] / 1e6:7.1f}MB  "
            f"spill {bts['spill_disk'] / 1e6:.1f}MB",
            flush=True,
        )
    return out


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "pipeline_e2e_ab.json"
    spark = get_spark(
        "pipeline_e2e_ab", extra_conf={"spark.ui.enabled": "true"}
    )
    from scale_rehearsal import DST, RAW, SRC, build_sf1

    build_sf1(spark)
    src = SRC if os.path.exists(SRC) else RAW
    report = {
        "sf0.1": measure(spark, src, "sf0.1"),
        "sf1": measure(spark, DST, "sf1"),
    }
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
