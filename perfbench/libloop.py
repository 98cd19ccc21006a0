"""Closed-loop library caller, run in a fresh interpreter.

    python3 perfbench/libloop.py <pages.pkl> <result.pkl> <seconds> <min>

Reads the pre-generated ``(url, html)`` pages, warms up on five of them,
then calls ``HTML5DOM().parse`` → ``find("a[href]")`` →
``body().innerText()`` → ``body().html()`` on every page in turn, pass
after pass, until the next pass would end after ``seconds`` (at least
``min`` passes); it records each pass's wall and CPU time.  The process
imports only the library and the standard library, so its CPU time and
peak RSS (``VmHWM``) are the library's.
Each output is kept as ``(url, sha1 of body().html(), link count)`` so
the outputs do not raise the peak; the caller checks them afterwards.
"""

from __future__ import annotations

import pickle
import statistics
import sys
import time


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def main(pages_path: str, result_path: str, seconds: float,
         min_passes: int) -> None:
    from perl_html5_dom_spark.api import HTML5DOM

    import oracle
    import spans

    with open(pages_path, "rb") as f:
        pages = pickle.load(f)
    for _url, html in pages[:5]:
        spans.library_call(HTML5DOM, html)

    # whole passes over the pages, so every pass does the same work
    out, passes = [], []
    n_bytes = sum(len(html) for _url, html in pages)
    t_start = time.perf_counter()
    while True:
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        for url, html in pages:
            body_html, n_links = spans.library_call(HTML5DOM, html)
            out.append((url, oracle.text_digest(body_html), n_links))
        passes.append((time.perf_counter() - t0, time.process_time() - cpu0))
        elapsed = time.perf_counter() - t_start
        typical = statistics.median(w for w, _c in passes)
        if len(passes) >= min_passes and elapsed + typical > seconds:
            break
    with open(result_path, "wb") as f:
        pickle.dump({"rows": out, "passes": passes, "pass_bytes": n_bytes,
                     "rss_mb": peak_rss_mb()}, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), int(sys.argv[4]))
