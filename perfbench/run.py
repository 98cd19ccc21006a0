"""Extraction benchmark: end-to-end and per-layer metrics of four workloads.

Run from the repository root:

    python3 perfbench/run.py --workload html_distinct --seed 1 \\
        --seconds 14 --trace 0

Workloads (see README.md for the workload → layer → metric map):

* ``html_distinct`` — ``extract_pages`` over all-distinct pages of four
  families (pages, messy, hostile, hostile2);
* ``html_dup`` — the same kernel over the ``bench.py`` shape: each page
  stored 8 times, copies adjacent, so the batch memo answers 7 of 8 rows;
* ``pdf_distinct`` — ``extract_pdfs`` over distinct generated PDFs;
* ``library_large`` — no Spark: one closed-loop caller per Spark slot,
  each a fresh interpreter, over crawl-sized pages:
  ``HTML5DOM().parse`` → ``find("a[href]")`` → ``body().innerText()``
  → ``body().html()``.

With ``--trace 0`` the run measures the end-to-end metrics; with
``--trace 1`` it measures the per-layer metrics instead, prints the layer
table with self times and the tracing overhead, and writes the spans to
``.perfbench_work/trace-<workload>-<seed>.json``.  Every output row is
checked against the DuckDB-derived oracle; the last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = {
    "html_distinct": "html",
    "html_dup": "html",
    "pdf_distinct": "pdf",
    "library_large": "library",
}

#: per-document samples of the traced layer timings: the workload's own
#: documents, and a reference sample for the layers it does not reach
LAYER_SAMPLE = {"html": 2000, "pdf": 800, "library": 100}
REF_SAMPLE = 300
OVERHEAD_SAMPLE = {"html": 600, "pdf": 300, "library": 40}
#: tracing overhead: documents per timed block, rounds over the blocks
OVERHEAD_BLOCK = {"html": 10, "pdf": 10, "library": 1}
OVERHEAD_ROUNDS = 5
#: calls behind doc_p99_ms: at least 10 beyond the 99th percentile
LATENCY_CALLS = 1100
MIN_PASSES = 3
SETUP_REPEATS = 9

#: per-layer metric -> span names summed, in ms per document
LAYER_SPANS = {
    "encoding.sniff_ms": ("encoding.sniff",),
    "tokenizer.tokenize_ms": ("tokenizer.tokenize",),
    "fastparse.parse_ms": ("fastparse.parse",),
    "treebuilder.parse_ms": ("treebuilder.parse",),
    "selector.find_ms": ("selector.find",),
    "extract.main_text_ms": ("extract.main_text",),
    "innertext.inner_text_ms": ("innertext.inner_text",),
    "serializer.serialize_ms": ("serializer.serialize",),
    "extract.extract_one_ms": ("extract.extract_one",),
    "pdf.open_ms": ("pdf.open", "pdf.pages"),
    "pdf.content_ms": ("pdf.content",),
    "pdf.extract_ms": ("pdf.extract",),
}


def note(msg: str) -> None:
    """Diagnostic line (never the last line of stdout)."""
    print(f"# {msg}", flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def slots() -> int:
    """Spark task slots: one core is left to the driver and the JVM's
    scan and write, so they do not contend with the Python workers."""
    return max(1, cores() - 1)


def percentile(sorted_vals: list, q: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    return sorted_vals[max(0, math.ceil(q * len(sorted_vals)) - 1)]


def prepare_environment() -> None:
    """Keep every file the run writes under the checkout."""
    if not os.path.isdir(os.path.join(ROOT, "perl_html5_dom_spark")):
        sys.exit("perfbench: run from the repository root "
                 "(perl_html5_dom_spark/ not found)")
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    # no JVM perf-data files in /tmp: the launcher JVM reads
    # SPARK_LAUNCHER_OPTS, the Spark JVM SPARK_SUBMIT_OPTS
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData")))
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}")))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def probe_sample(rows: list, n: int) -> list:
    """``n`` distinct payloads with a seed-independent make-up: the
    lowest document ids of each family (url ``.../<family>/<id>...``),
    so the mix of families, templates and PDF variants is the same for
    every seed."""
    families: dict = {}
    for url, payload in rows:
        _scheme, _e, _host, family, doc_id = url.split("/")[:5]
        families.setdefault(family, []).append((int(doc_id), payload))
    per = -(-n // len(families))
    out = []
    for docs in families.values():
        docs.sort(key=lambda d: d[0])
        out += list(dict.fromkeys(p for _i, p in docs))[:per]
    return out[:n]


def size_spread_sample(rows: list, n: int) -> list:
    """``n`` rows evenly spaced over the size order."""
    ordered = sorted(rows, key=lambda r: len(r[1]))
    step = max(1, len(ordered) // n)
    return ordered[::step][:n]


def latency_probe(kind: str, docs: list) -> list:
    """Sorted per-call milliseconds of the workload's per-document call,
    untraced, over ``docs`` cycled to LATENCY_CALLS calls."""
    import spans

    lat = []
    for i in range(LATENCY_CALLS):
        t0 = time.perf_counter()
        spans.primary_loop(kind, [docs[i % len(docs)]])
        lat.append((time.perf_counter() - t0) * 1e3)
    return sorted(lat)


# ---------------------------------------------------------------------------
# end-to-end runs
# ---------------------------------------------------------------------------


def write_input(kind: str, inputs) -> str:
    """The workload's rows as one parquet file per Spark slot."""
    import inputs as inp

    path = os.path.join(WORK, "input")
    inp.write_parquet(inputs, path, slots(),
                      "pdf" if kind == "pdf" else "html")
    return path


def warm_session(kind: str, path: str):
    """Start a session and run one untimed pass of the real kernel, so
    every worker has forked and imported pandas and the package, and the
    JVM has compiled the scan and write paths, before anything is timed.
    Returns (session, runner, kernel, input frame)."""
    import sparkrun

    t = time.perf_counter()
    spark = sparkrun.start_session(WORK, slots())
    session_s = time.perf_counter() - t
    try:
        runner = sparkrun.Runner(spark, WORK)
        fn = sparkrun.kernel(kind)
        df = spark.read.parquet(path)
        warm = runner.run(df, fn, "warm")
    except BaseException:
        stop_spark(spark)
        raise
    note(f"session start {session_s:.2f}s, warm-up pass {warm.wall_s:.2f}s "
         f"({warm.tasks} tasks)")
    return spark, runner, fn, df


def check_passes(passes, expected: dict, tally) -> None:
    import oracle

    for p in passes:
        tally.add(oracle.read_output(p.out), expected)
        shutil.rmtree(p.out, ignore_errors=True)


def spark_end_to_end(kind: str, seconds: float, inputs, gen_s: float,
                     tally) -> dict:
    t = time.perf_counter()
    path = write_input(kind, inputs)
    gen_s += time.perf_counter() - t
    spark, runner, fn, df = warm_session(kind, path)
    try:
        setup_s = time.perf_counter() - T_START - gen_s
        note(f"setup_s {setup_s:.2f}s excludes input generation and "
             f"the speed probe, {gen_s:.2f}s")
        passes, t0 = [], time.perf_counter()
        while True:
            passes.append(runner.run(df, fn, "pass"))
            elapsed = time.perf_counter() - t0
            typical = statistics.median(p.wall_s for p in passes)
            if len(passes) >= MIN_PASSES and elapsed + typical > seconds:
                break
        rows = len(inputs.rows)
        for i, p in enumerate(passes):
            note(f"pass {i}: {p.wall_s:.3f}s {rows / p.wall_s:.0f} docs/s "
                 f"worker cpu {p.cpu_s:.2f}s tasks {p.tasks} "
                 f"steal {p.steal_pct:.1f}% load1 {p.load1:.2f}")
        rss = runner.worker_rss_mb()
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t

    t = time.perf_counter()
    check_passes(passes, inputs.expected, tally)
    note(f"after timing: session stop {stop_s:.2f}s, output check "
         f"{time.perf_counter() - t:.2f}s")

    walls = [p.wall_s for p in passes]
    metrics = {
        "docs_per_s": metric(statistics.median(rows / w for w in walls),
                             "1/s"),
        "mb_per_s": metric(statistics.median(
            inputs.n_bytes / 1e6 / w for w in walls), "MB/s"),
        "cpu_ms_per_doc": metric(statistics.median(
            p.cpu_s / rows * 1e3 for p in passes), "ms"),
        "worker_rss_mb": metric(rss, "MB"),
        "setup_s": metric(setup_s, "s"),
    }
    note(f"{len(passes)} passes x {rows} rows")
    return metrics


def library_setup_s() -> float:
    """Median wall time of SETUP_REPEATS fresh interpreters that import
    the library, build a parser and parse one page."""
    code = ("from perl_html5_dom_spark.api import HTML5DOM\n"
            "HTML5DOM().parse(b'<p>warm <a href=x>y</a>').body().html()\n")
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def library_end_to_end(seconds: float, inputs, tally) -> dict:
    """``slots()`` callers, each a closed loop in a fresh interpreter
    (``libloop.py``) that imports only the library, so CPU time and peak
    RSS are the library's, not the benchmark's own (DuckDB, pandas, the
    generated inputs).  Each caller starts at another page.  Several
    callers, like the Spark workers, average out the speed changes of
    single cores on a shared machine."""
    import pickle

    import oracle

    setup_s = library_setup_s()
    note(f"setup: median of {SETUP_REPEATS} fresh interpreters "
         f"{setup_s:.3f}s")
    n = slots()
    per = len(inputs.rows)
    procs = []
    for c in range(n):
        at = c * per // n
        pages_path = os.path.join(WORK, f"library_pages_{c}.pkl")
        with open(pages_path, "wb") as f:
            pickle.dump(inputs.rows[at:] + inputs.rows[:at], f)
        procs.append(subprocess.Popen(
            [sys.executable, os.path.join(HERE, "libloop.py"), pages_path,
             os.path.join(WORK, f"library_result_{c}.pkl"), str(seconds),
             str(MIN_PASSES)], cwd=ROOT))
    if any(p.wait() for p in procs):
        raise RuntimeError("a library caller failed")
    results = []
    for c in range(n):
        with open(os.path.join(WORK, f"library_result_{c}.pkl"), "rb") as f:
            results.append(pickle.load(f))

    expected = oracle.digested(inputs.expected)
    for c, res in enumerate(results):
        rows = res["rows"]
        # every pass calls each page once: check each pass separately
        for start in range(0, len(rows), per):
            tally.add([{"url": u, "body_html": b, "n_links": k}
                       for u, b, k in rows[start:start + per]], expected)
        note(f"caller {c}: " + ", ".join(
            f"{per / w:.1f}" for w, _c in res["passes"])
            + f" docs/s per pass, peak RSS {res['rss_mb']:.1f} MB")
    mb = results[0]["pass_bytes"] / 1e6
    note(f"{n} callers, passes of {per} pages ({mb:.2f} MB)")
    return {
        "docs_per_s": metric(sum(statistics.median(
            per / w for w, _c in r["passes"]) for r in results), "1/s"),
        "mb_per_s": metric(sum(statistics.median(
            mb / w for w, _c in r["passes"]) for r in results), "MB/s"),
        "cpu_ms_per_doc": metric(statistics.median(
            c / per * 1e3 for r in results for _w, c in r["passes"]), "ms"),
        "worker_rss_mb": metric(max(r["rss_mb"] for r in results), "MB"),
        "setup_s": metric(setup_s, "s"),
    }


# ---------------------------------------------------------------------------
# traced runs
# ---------------------------------------------------------------------------


def spark_layers(kind: str, inputs, tally) -> dict:
    """Spark-layer metrics: empty and real passes interleaved, plus the
    batch repeat count the memo sees."""
    import sparkrun

    spark, runner, fn, df = warm_session(kind, write_input(kind, inputs))
    try:
        empty, real = [], []
        for _ in range(3):
            empty.append(runner.run(df, sparkrun.empty_kernel, "empty"))
            real.append(runner.run(df, fn, "pass"))
        memo = sparkrun.memo_hit_ratio(df)
    finally:
        stop_spark(spark)
    for p in empty + real:
        note(f"{os.path.basename(p.out)}: {p.wall_s:.3f}s worker cpu "
             f"{p.cpu_s:.2f}s tasks {p.tasks} steal {p.steal_pct:.1f}%")
    check_passes(real, inputs.expected, tally)
    empty_s = statistics.median(p.wall_s for p in empty)
    return {
        "spark.tasks": metric(statistics.median(p.tasks for p in real),
                              "count"),
        "spark.task_overhead_ms": metric(statistics.median(
            p.cpu_s / p.tasks * 1e3 for p in empty), "ms"),
        "spark.empty_pass_s": metric(empty_s, "s"),
        "extract.kernel_s": metric(
            statistics.median(p.wall_s for p in real) - empty_s, "s"),
        "extract.memo_hit_ratio": metric(memo, "ratio"),
    }


def layer_metrics(tracers: list) -> dict:
    """ms per document of each layer, from the first tracer (in the
    workload's order: its own documents first) that reached the layer."""
    out = {}
    for name, span_names in LAYER_SPANS.items():
        for tr, n_docs, _label in tracers:
            tot = tr.totals()
            if any(s in tot for s in span_names):
                ns = sum(tot[s][1] for s in span_names if s in tot)
                out[name] = metric(ns / n_docs / 1e6, "ms")
                break
        else:
            raise RuntimeError(f"no traced call reached {name}")
    for tr, _n, _label in tracers:
        calls = tr.counts.get("fastparse.try_parse", 0)
        if calls:
            out["fastparse.bail_ratio"] = metric(
                tr.counts.get("fastparse.bail", 0) / calls, "ratio")
            break
    return out


def print_layer_table(tracers: list) -> None:
    for tr, n_docs, label in tracers:
        note(f"spans over {n_docs} documents ({label}):")
        note(f"  {'span':<24}{'calls':>8}{'total ms/doc':>14}"
             f"{'self ms/doc':>13}")
        for name, (count, total, self_ns) in sorted(
                tr.totals().items(), key=lambda kv: -kv[1][1]):
            note(f"  {name:<24}{count:>8}{total / n_docs / 1e6:>14.4f}"
                 f"{self_ns / n_docs / 1e6:>13.4f}")


def tracing_overhead(kind: str, docs: list) -> tuple:
    """Traced over untraced time of the workload's per-document call:
    every block of OVERHEAD_BLOCK[kind] documents runs untraced and
    traced back to back, the order alternating, over OVERHEAD_ROUNDS
    rounds, so a drift in machine speed lands on both sides of each
    ratio.  Returns the quartiles of the per-block ratios minus one, and
    their count."""
    import spans

    def timed(block, tr):
        t0 = time.perf_counter()
        spans.primary_loop(kind, block, tr)
        return time.perf_counter() - t0

    size = OVERHEAD_BLOCK[kind]
    blocks = [docs[i:i + size] for i in range(0, len(docs), size)]
    ratios = []
    for r in range(OVERHEAD_ROUNDS):
        for j, block in enumerate(blocks):
            if (r + j) % 2:
                traced = timed(block, spans.Tracer())
                plain = timed(block, None)
            else:
                plain = timed(block, None)
                traced = timed(block, spans.Tracer())
            ratios.append(traced / plain - 1)
    return statistics.quantiles(ratios, n=4), len(ratios)


def traced_run(workload: str, kind: str, seed: int, inputs, tally) -> dict:
    import inputs as inp
    import spans

    if kind == "library":
        sample = size_spread_sample(inputs.rows, LAYER_SAMPLE["library"])
        html_docs = [h for _u, h in sample]
    elif kind == "html":
        html_docs = probe_sample(inputs.rows, LAYER_SAMPLE["html"])
    else:
        html_docs = probe_sample(inp.html_distinct(seed).rows, REF_SAMPLE)
    if kind == "pdf":
        pdf_docs = probe_sample(inputs.rows, LAYER_SAMPLE["pdf"])
    else:
        docs = inp.documents(seed, REF_SAMPLE)
        from perl_html5_dom_spark.sources.pdfs import pdf_bytes

        pdf_docs = [pdf_bytes(int(i), t)
                    for i, t in zip(docs["doc_id"], docs["text"])]

    if kind == "library":
        # the workload makes no Spark pass; like the layers a workload
        # does not reach, the Spark layers are measured on a reference:
        # the same seed's html_distinct input, checked against its oracle
        note("Spark layers: reference html_distinct input, same seed")
        metrics = spark_layers("html", inp.html_distinct(seed), tally)
    else:
        metrics = spark_layers(kind, inputs, tally)

    own = "workload documents"
    ref_label = "reference sample, same seed"
    tracers = []
    if kind == "library":
        lib = spans.Tracer()
        tally.add(spans.primary_loop("library", sample, lib),
                  {u: inputs.expected[u] for u, _h in sample})
        tracers.append((lib, len(sample), own + ", library call"))
        own_spans = len(lib.spans) / len(sample)
    html = spans.Tracer()
    spans.primary_loop("html", html_docs, html)
    if kind == "html":
        own_spans = len(html.spans) / len(html_docs)
    spans.standalone_html(html, html_docs)
    pdf = spans.Tracer()
    spans.primary_loop("pdf", pdf_docs, pdf)
    if kind == "pdf":
        own_spans = len(pdf.spans) / len(pdf_docs)
    html_entry = (html, len(html_docs),
                  ref_label if kind == "pdf" else own + ", HTML layers")
    pdf_entry = (pdf, len(pdf_docs), own if kind == "pdf" else ref_label)
    tracers += [pdf_entry, html_entry] if kind == "pdf" else [html_entry,
                                                              pdf_entry]

    metrics.update(layer_metrics(tracers))
    metrics["fail_ratio"] = metric(tally.failed / tally.attempted, "ratio")
    print_layer_table(tracers)
    own_docs = (sample if kind == "library" else
                pdf_docs if kind == "pdf" else html_docs)
    lat = latency_probe(kind, inputs.rows if kind == "library" else
                        probe_sample(inputs.rows, LATENCY_CALLS))
    metrics["doc_p50_ms"] = metric(percentile(lat, 0.50), "ms")
    metrics["doc_p99_ms"] = metric(percentile(lat, 0.99), "ms")
    note(f"per-call latency over {len(lat)} untraced calls: p50 "
         f"{percentile(lat, 0.50):.3f} ms, p99 {percentile(lat, 0.99):.3f} ms")
    (q1, med, q3), n = tracing_overhead(kind,
                                        own_docs[:OVERHEAD_SAMPLE[kind]])
    note(f"tracing overhead on the {kind} call: median {med * 100:+.1f}% "
         f"(quartiles {q1 * 100:+.1f}%, {q3 * 100:+.1f}%) over {n} blocks "
         f"of {OVERHEAD_BLOCK[kind]} documents, each timed untraced and "
         f"traced back to back")
    span_ms = spans.empty_span_ns() / 1e6
    note(f"tracing overhead from span count: {own_spans:.1f} spans per call "
         f"x {span_ms * 1e3:.2f} us per empty span = "
         f"{own_spans * span_ms / statistics.mean(lat) * 100:+.1f}% of the "
         f"mean untraced call")
    path = os.path.join(WORK, f"trace-{workload}-{seed}.json")
    with open(path, "w") as f:
        json.dump({label: {"documents": n, "spans": tr.spans,
                           "counts": tr.counts}
                   for tr, n, label in tracers}, f)
    note(f"spans written to {os.path.relpath(path, ROOT)}")
    return metrics


# ---------------------------------------------------------------------------


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from pyspark import SparkContext

    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children(timeout: float = 30.0) -> None:
    """Wait until no process started by this run is left."""
    me = str(os.getpid())
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        left = []
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            if s[s.rindex(")") + 2:].split()[1] == me:
                left.append(int(name))
        if not left:
            return
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
    raise RuntimeError(f"child processes still running: {left}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    prepare_environment()
    import inputs as inp
    import oracle
    import sysstat

    kind = WORKLOADS[a.workload]
    t = time.perf_counter()
    inputs = inp.build(a.workload, a.seed)
    gen_s = time.perf_counter() - t
    note(f"started in {t - T_START:.2f}s")
    note(f"{a.workload} seed {a.seed}: {len(inputs.rows)} rows, "
         f"{inputs.n_bytes / 1e6:.2f} MB, digest {inputs.digest[:16]}, "
         f"generated in {gen_s:.2f}s, {cores()} cores, "
         f"{slots()} Spark slots")
    t = time.perf_counter()
    probe0 = sysstat.speed_probe_ms()
    gen_s += time.perf_counter() - t
    m0 = sysstat.machine_sample()
    tally = oracle.Tally()
    if a.trace:
        metrics = traced_run(a.workload, kind, a.seed, inputs, tally)
    elif kind == "library":
        metrics = library_end_to_end(a.seconds, inputs, tally)
    else:
        metrics = spark_end_to_end(kind, a.seconds, inputs, gen_s, tally)
    wait_children()
    for e in tally.examples:
        note(f"FAILED {e}")
    note(f"fail_ratio {tally.failed / tally.attempted:.6f} "
         f"({tally.failed} of {tally.attempted} rows)")
    m1 = sysstat.machine_sample()
    note(f"machine over the run: steal {sysstat.steal_pct(m0, m1):.2f}% "
         f"load1 {m1['load1']:.2f}, speed probe {probe0:.1f} ms before, "
         f"{sysstat.speed_probe_ms():.1f} ms after (fixed pure-Python loop; "
         f"higher is a slower machine)")
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    print(json.dumps({"correct": tally.failed == 0,
                      "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
