"""Workload ``ingest_tick``: the paper's scheduled incremental tick.

One run restores the same lake, which already holds ``BASE_BAGS`` completed
bags and a manifest log of ``BASE_COMMITS`` commits, all written by the
package's own ``runner.run_once`` (built once per checkout, see
``build_base``). It then runs a fixed schedule of ticks from a fresh driver:

* one cold tick, what a scheduler-launched job pays. It picks up a backlog
  of four new bags: two plain ``.bag``, one ``.bag.tar.gz`` and one bag
  truncated at a seeded point, which must end as ``failure``. It also
  replays a seeded completed bag (``clear_status`` before the tick, then a
  dynamic partition overwrite). Five bags give every Python worker a bag,
  so the warm ticks start with warm workers;
* ``WARM_TICKS`` warm ticks that each land one new plain bag. They are
  alike, so their median is steady; the special paths all run in the cold
  tick.

The op count is fixed: ticks get slower as the manifest log grows (two or
three commits per tick), so a run that timed "as many ticks as fit" would
make a faster build pay for its extra, later ticks.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import random
import shutil
import subprocess
import sys
import tarfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import spans as sp_trace  # noqa: E402

BASE_VERSION = 1
BASE_TICKS = [[0, 1, 2, 3]] + [[b] for b in range(4, 13)]
BASE_BAGS = sum(map(len, BASE_TICKS))
BASE_COMMITS = 2 * len(BASE_TICKS)  # "in progress" + "complete" per tick
COLD_KINDS = ("plain", "targz", "truncated", "plain")
WARM_TICKS = 2
FRAMES_PER_CAMERA = 12  # fixtures.rosbag_bytes default
SINKS = {"topic_messages": "parquet", "frame_stats": "parquet",
         "labels": "json", "annotated": "parquet"}

LAKE = os.path.join(harness.WORK, "lake")
INCOMING = os.path.join(harness.WORK, "incoming")


def _pkg(name: str):
    return __import__(f"{harness.PACKAGE}.{name}", fromlist=["_"])


def bag_id(b: int) -> str:
    return f"bag{b:04d}"


def bag_name(b: int, kind: str) -> str:
    return bag_id(b) + (".bag.tar.gz" if kind == "targz" else ".bag")


def bag_blob(b: int, kind: str, cut: float = 0.5) -> bytes:
    """The bytes of fixture bag ``b`` as ``kind``. The tarball is written
    with a zero gzip mtime, so the same bag is the same bytes every time."""
    data = _pkg("sources.fixtures").rosbag_bytes(b)
    if kind == "truncated":
        return data[: int(len(data) * cut)]
    if kind == "plain":
        return data
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        with tarfile.open(fileobj=gz, mode="w|") as tf:
            info = tarfile.TarInfo(name=bag_id(b) + ".bag")
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def schedule(seed: int) -> list[dict]:
    """The run's ticks, from the seed alone: which bags land, as what, where
    the truncated bag is cut and which completed bag is replayed."""
    rng = random.Random(seed)
    first = 1000 + (seed % 1_000_000) * 8
    ticks = [{
        "kind": "cold",
        "land": [(first + i, k) for i, k in enumerate(COLD_KINDS)],
        "replay": rng.randrange(BASE_BAGS),
        "cut": rng.uniform(0.3, 0.7),
    }]
    for i in range(WARM_TICKS):
        b = first + len(COLD_KINDS) + i
        ticks.append({"kind": "warm", "land": [(b, "plain")], "replay": None, "cut": None})
    return ticks


def _config(lake: str):
    return _pkg("runner").PipelineConfig(
        bags_dir=os.path.join(lake, "bags"),
        output_dir=os.path.join(lake, "out"),
        manifest_dir=os.path.join(lake, "manifest"),
    )


def _commits(cfg) -> int:
    return len(_pkg("streaming.pipeline")._versions(cfg.manifest_dir))


def _base_dir() -> str:
    # manifest keys are absolute bag paths, so a base lake only fits the
    # lake path it was built at
    tag = hashlib.sha1(os.path.abspath(LAKE).encode()).hexdigest()[:12]
    return os.path.join(harness.WORK, f"base-v{BASE_VERSION}-{tag}")


def build_base() -> None:
    """Build the base lake at ``LAKE`` with the package's own ticks, then
    keep a copy. Runs in its own process, before the measured driver
    starts."""
    harness.configure_env()
    shutil.rmtree(LAKE, ignore_errors=True)
    cfg = _config(LAKE)
    os.makedirs(cfg.bags_dir)
    spark, _ = harness.start_session()
    try:
        runner = _pkg("runner")
        for tick in BASE_TICKS:
            for b in tick:
                with open(os.path.join(cfg.bags_dir, bag_name(b, "plain")), "wb") as f:
                    f.write(bag_blob(b, "plain"))
            statuses = runner.run_once(spark, cfg)
            if sorted(statuses.values()) != ["complete"] * len(tick):
                raise RuntimeError(f"base tick {tick} ended {statuses}")
        if _commits(cfg) != BASE_COMMITS:
            raise RuntimeError(f"base log has {_commits(cfg)} commits")
    finally:
        harness.stop_session(spark)
    tmp = _base_dir() + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(LAKE, tmp)
    os.rename(tmp, _base_dir())


def prepare(seed: int) -> dict:
    """Untimed: make sure the base lake exists, restore it, and write the
    run's bags to a staging dir they are moved from as each tick starts."""
    if not os.path.isdir(_base_dir()):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--build-base"],
            check=True, timeout=600,
        )
    shutil.rmtree(LAKE, ignore_errors=True)
    shutil.copytree(_base_dir(), LAKE)
    shutil.rmtree(INCOMING, ignore_errors=True)
    os.makedirs(INCOMING)
    ticks = schedule(seed)
    for tick in ticks:
        for b, kind in tick["land"]:
            with open(os.path.join(INCOMING, bag_name(b, kind)), "wb") as f:
                f.write(bag_blob(b, kind, tick["cut"] or 0.5))
    return {"ticks": ticks}


def _bag_bytes(cfg, b: int) -> int:
    for kind in ("plain", "targz"):
        p = os.path.join(cfg.bags_dir, bag_name(b, kind))
        if os.path.exists(p):
            return os.path.getsize(p)
    raise FileNotFoundError(bag_id(b))


def run(spark, tracer, prepared: dict) -> dict:
    runner = _pkg("runner")
    pipeline = _pkg("streaming.pipeline")
    cfg = _config(LAKE)
    ops = []
    for pos, tick in enumerate(prepared["ticks"]):
        for b, kind in tick["land"]:
            name = bag_name(b, kind)
            os.rename(os.path.join(INCOMING, name), os.path.join(cfg.bags_dir, name))
        if tick["replay"] is not None:
            key = "file:" + os.path.join(cfg.bags_dir, bag_name(tick["replay"], "plain"))
            pipeline.clear_status(spark, cfg.manifest_dir, [key])
        commits = _commits(cfg)
        cpu0 = harness.tree_cpu_s()
        with tracer.span("tick") as span:
            t0 = time.perf_counter()
            statuses = runner.run_once(spark, cfg)
            dur = time.perf_counter() - t0
        cpu = harness.tree_cpu_s() - cpu0
        processed = [b for b, k in tick["land"] if k != "truncated"]
        if tick["replay"] is not None:
            processed.append(tick["replay"])
        ops.append({
            "pos": pos,
            "kind": tick["kind"],
            "bags": len(tick["land"]) + (tick["replay"] is not None),
            "replay": tick["replay"] is not None,
            "s": dur,
            "cpu_s": cpu,
            "manifest_commits": commits,
            "commits_added": _commits(cfg) - commits,
            "messages": cfg.extra["last_metrics"]["n_messages"],
            "bag_bytes": sum(_bag_bytes(cfg, b) for b in processed),
            "frames": sum(len(_expected_frames(b)) for b in processed),
            "span": span["id"] if span else None,
            "statuses": {k.rsplit("/", 1)[-1]: v for k, v in statuses.items()},
        })
    result = {"ops": ops, "cfg": cfg, "ticks": prepared["ticks"], "attempted": len(ops)}
    result["drift"] = drift(result)
    return result


# ---------------------------------------------------------------------------
# output checks


def _expected_messages(b: int) -> list[tuple]:
    fixtures = _pkg("sources.fixtures")
    keep = set(_pkg("schemas").TOPIC_WHITELIST)
    return sorted(
        (topic, ts, seq, tuple(sorted(payload.items())))
        for _bag, topic, ts, seq, payload in fixtures._bag_rows(b)
        if topic in keep
    )


def _expected_frames(b: int) -> list[tuple]:
    fixtures = _pkg("sources.fixtures")
    return sorted(
        (camera, idx)
        for _bag, camera, idx, *_ in fixtures._frame_rows(
            b, FRAMES_PER_CAMERA, with_content=False
        )
    )


def _same(got: str | None, want: str) -> bool:
    """Payload fields land as the ROS message's typed value rendered back to
    text, so ``0.137330`` in the fixture lands as ``0.13733``."""
    if got == want:
        return True
    try:
        return float(got) == float(want)
    except (TypeError, ValueError):
        return False


def _read(cfg, sink: str, b: int) -> list[dict]:
    import pyarrow.dataset as ds

    path = os.path.join(cfg.output_dir, sink, f"bag_id={bag_id(b)}")
    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format=SINKS[sink], partitioning="hive").to_table().to_pylist()


def check_bag(cfg, b: int) -> list[str]:
    """A landed bag's topic_messages rows are exactly the fixture's messages
    (whitelisted topics, each fixture payload field intact, no duplicate),
    and its labels and annotated rows are exactly the fixture's frames."""
    problems = []
    got = sorted(
        (r["topic"], r["rosbagTimestamp"], r["seq"], dict(r["payload"]))
        for r in _read(cfg, "topic_messages", b)
    )
    want = _expected_messages(b)
    if len(got) != len(want):
        problems.append(f"{bag_id(b)}: {len(got)} topic_messages rows, want {len(want)}")
    elif any(
        g[:3] != w[:3] or any(not _same(g[3].get(k), v) for k, v in w[3])
        for g, w in zip(got, want)
    ):
        problems.append(f"{bag_id(b)}: topic_messages differ from the fixture")
    frames = _expected_frames(b)
    for sink in ("labels", "annotated"):
        rows = sorted((r["camera"], r["frame_index"]) for r in _read(cfg, sink, b))
        if rows != frames:
            problems.append(f"{bag_id(b)}: {len(rows)} {sink} rows, want {len(frames)}")
    return problems


def check(spark, prepared: dict, result: dict, plant: bool = False) -> list[list[str]]:
    """Problems per op. Every op's statuses must be what its bags deserve,
    its good bags' outputs must equal the fixtures, the truncated bag must
    land no rows, and the manifest must end with every bag ``complete``
    except the truncated one. ``plant`` first loses one landed file of the
    first warm bag, for the self-test."""
    cfg = result["cfg"]
    if plant:
        b = result["ticks"][1]["land"][0][0]
        part = os.path.join(cfg.output_dir, "topic_messages", f"bag_id={bag_id(b)}")
        topic = os.path.join(part, sorted(os.listdir(part))[0])
        data = sorted(f for f in os.listdir(topic) if f.endswith(".parquet"))
        os.remove(os.path.join(topic, data[0]))
    manifest = {
        r.key.rsplit("/", 1)[-1]: r.status
        for r in _pkg("streaming.pipeline").current_manifest(
            spark, cfg.manifest_dir
        ).collect()
    }
    problems: list[list[str]] = []
    for op, tick in zip(result["ops"], result["ticks"]):
        p: list[str] = []
        want = {bag_name(b, k): ("failure" if k == "truncated" else "complete")
                for b, k in tick["land"]}
        if tick["replay"] is not None:
            want[bag_name(tick["replay"], "plain")] = "complete"
        if op["statuses"] != want:
            p.append(f"tick {op['pos']} returned {op['statuses']}, want {want}")
        for name, status in want.items():
            if manifest.get(name) != status:
                p.append(f"manifest has {name}={manifest.get(name)}, want {status}")
        for b, k in tick["land"]:
            if k == "truncated":
                if any(_read(cfg, sink, b) for sink in SINKS):
                    p.append(f"truncated {bag_id(b)} landed rows")
            else:
                p.extend(check_bag(cfg, b))
        if tick["replay"] is not None:
            p.extend(check_bag(cfg, tick["replay"]))
        problems.append(p)
    base = [bag_name(b, "plain") for b in range(BASE_BAGS)]
    stale = [n for n in base if manifest.get(n) != "complete"]
    if stale:
        problems[0].append(f"base bags not complete: {stale}")
    return problems


# ---------------------------------------------------------------------------
# metrics


def end_to_end(result: dict) -> dict:
    warm = [op for op in result["ops"] if op["kind"] == "warm"]
    return {
        "cold_op_s": result["ops"][0]["s"],
        "warm_op_p50_s": harness.median([op["s"] for op in warm]),
        "warm_geomean_s": harness.geomean([op["s"] for op in warm]),
        "cold_op_cpu_s": result["ops"][0]["cpu_s"],
        "warm_op_cpu_s": harness.median([op["cpu_s"] for op in warm]),
    }


def drift(result: dict) -> dict:
    """Latency and log length at each op position, and the least-squares
    slope of warm-tick latency per tick."""
    ops = result["ops"]
    warm = [(op["pos"], op["s"]) for op in ops if op["kind"] == "warm"]
    mx = sum(x for x, _ in warm) / len(warm)
    my = sum(y for _, y in warm) / len(warm)
    slope = sum((x - mx) * (y - my) for x, y in warm) / sum((x - mx) ** 2 for x, _ in warm)
    return {
        "positions": [
            {k: op[k] for k in ("pos", "kind", "bags", "replay", "s",
                                "manifest_commits", "commits_added")}
            for op in ops
        ],
        "warm_slope_s_per_tick": slope,
        "base_commits": BASE_COMMITS,
    }


def per_layer(result: dict, spans: list[dict], cores: int) -> dict:
    by_id = {s["id"]: s for s in spans}
    warm = [op for op in result["ops"] if op["kind"] == "warm"]
    rows = []
    for op in warm:
        tick = by_id[op["span"]]

        def total(name, key="dur"):
            return sum(s[key] for s in sp_trace.within(spans, tick, name))

        r = {
            "pipeline.discover_s": tick["dur"] - total("runner.process_bags")
            - total("pipeline.append_status"),
            "pipeline.manifest_commits": op["manifest_commits"],
            "pipeline.manifest_appends": op["commits_added"],
            "pipeline.manifest_append_s": total("pipeline.append_status"),
        }
        for sink in SINKS:
            r[f"runner.write.{sink}_s"] = total(f"runner.write.{sink}")
        for key in ("jobs", "stages", "tasks", "shuffle_bytes"):
            r[f"spark.{key}"] = sp_trace.inclusive(spans, tick, key)
        r["_run_s"] = sp_trace.inclusive(spans, tick, "run_s")
        r["_input"] = sum(sp_trace.inclusive(spans, s, "input_bytes")
                          for s in sp_trace.within(spans, tick, "runner.process_bags"))
        r["_output"] = sum(total(f"runner.write.{s}", "output_bytes") for s in SINKS)
        rows.append(r)
    out = {k: harness.median([r[k] for r in rows]) for k in rows[0] if not k.startswith("_")}
    sum_of = lambda k: sum(r[k] for r in rows)  # noqa: E731
    bag_bytes = sum(op["bag_bytes"] for op in warm)
    out.update({
        "frames_source.messages_per_s":
            sum(op["messages"] for op in warm) / sum_of("runner.write.topic_messages_s"),
        "annotate.frames_per_s":
            sum(op["frames"] for op in warm) / sum_of("runner.write.frame_stats_s"),
        "runner.bytes_written_per_bag_byte": sum_of("_output") / bag_bytes,
        "spark.input_bytes_per_bag_byte": sum_of("_input") / bag_bytes,
        "spark.core_busy_share":
            sum_of("_run_s") / (sum(op["s"] for op in warm) * cores),
    })
    return out


def install_spans(tracer) -> None:
    """Spans around the layers' public functions and the sink writes, so the
    trace follows whatever ``run_once`` calls."""
    pipeline = _pkg("streaming.pipeline")
    frames_source = _pkg("sources.frames_source")
    tracer.wrap(_pkg("runner"), "process_bags", "runner.process_bags")
    tracer.wrap(pipeline, "append_status", "pipeline.append_status")
    tracer.wrap(pipeline, "current_manifest", "pipeline.current_manifest")
    tracer.wrap(frames_source, "decode_bag_blobs", "frames_source.decode_bag_blobs")
    tracer.wrap(frames_source, "decode_bag_frames", "frames_source.decode_bag_frames")
    tracer.wrap(_pkg("operators.annotate"), "infer_labels", "annotate.infer_labels")
    out = os.path.join(LAKE, "out")

    def sink_name(path) -> str:
        path = str(path or "")
        if path.startswith(out):
            return "runner.write." + os.path.relpath(path, out).split(os.sep)[0]
        return "pipeline.write.manifest"

    tracer.wrap_writer(sink_name)


if __name__ == "__main__" and sys.argv[1:] == ["--build-base"]:
    build_base()
