"""Open-loop post generator for the stream_burst workload.

A single-threaded process that listens on one localhost TCP port, accepts
exactly one connection (the pipeline's socket source) and writes posts in
the reference wire format on a fixed schedule, whether or not the consumer
keeps up. Each post's `created_utc` is the time it was due to be sent.

Schedule: a warm-up segment at the base rate, then the measured segment:
the base rate plus bursts at the burst rate. The post order, replica id
offsets and the burst phase come from the seed; the documents are the
fixed sf0.1-sized corpus (datagen.CORPUS_SEED). A few keep-alive and
malformed lines ride along, as on the reference wire; the cleaning filter
must drop them.

When every line is sent, it writes a summary JSON (lines sent, the
measured events with their due times, and how late sends ran) and waits
for the consumer to hang up.
"""
import argparse
import json
import os
import socket
import time

import numpy as np

import datagen

BASE_RATE = 100.0      # posts/s, the reference's implied ingest target
BURST_RATE = 2500.0    # posts/s during a burst
BURST_S = 1.0          # burst length
WARM_S = 4.0           # warm-up segment, excluded from freshness
KEEPALIVE_EVERY = 500  # one keep-alive line per this many posts
MALFORMED_EVERY = 997  # one malformed line per this many posts


def schedule(seconds, seed):
    """Due offsets (s from start) of every post, whether each is burst
    traffic, and where measuring starts. Two bursts per measured window,
    phase drawn from the seed."""
    r = np.random.default_rng([int(seed), 11])
    warm = np.arange(0.0, WARM_S, 1.0 / BASE_RATE)
    base = WARM_S + np.arange(0.0, seconds, 1.0 / BASE_RATE)
    period = seconds / 2.0
    phase = r.uniform(0.5, max(0.5, period - BURST_S - 0.5))
    bursts = [WARM_S + k * period + phase + np.arange(0.0, BURST_S,
                                                       1.0 / BURST_RATE)
              for k in range(2)]
    due = np.concatenate([warm, base] + bursts)
    burst = np.concatenate([np.zeros(len(warm) + len(base), bool)]
                           + [np.ones(len(b), bool) for b in bursts])
    order = np.argsort(due, kind="stable")
    return due[order], burst[order], WARM_S


def posts(n, seed, n_docs=5000):
    """(id, prefix, suffix) wire fragments of n posts around created_utc:
    documents in seeded order, each replica of the corpus with a seeded
    id offset."""
    docs = datagen.documents(n_docs, datagen.CORPUS_SEED)
    r = np.random.default_rng([int(seed), 12])
    reps = -(-n // n_docs)
    offsets = (1 + r.permutation(reps + 8)[:reps]) * 10_000_000
    out = []
    for k in range(reps):
        for i in r.permutation(n_docs)[:n - len(out)]:
            doc_id = int(offsets[k]) + int(i)
            line = datagen.wire_line(doc_id, docs["text"][i], docs["lang"][i],
                                     docs["source"][i], 0.0)
            head, tail = line.split('"created_utc":0.0', 1)
            out.append((doc_id, head + '"created_utc":', tail))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--done-file", required=True)
    a = ap.parse_args()

    due, burst, warm = schedule(a.seconds, a.seed)
    ps = posts(len(due), a.seed)
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    srv.settimeout(150)
    tmp = a.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(srv.getsockname()[1]))
    os.replace(tmp, a.port_file)
    conn, _ = srv.accept()
    srv.close()

    t0 = time.time() + 0.2
    abs_due = t0 + due
    late = np.zeros(len(due))
    lines, i, n = 0, 0, len(due)
    while i < n:
        now = time.time()
        if abs_due[i] > now:
            time.sleep(min(abs_due[i] - now, 0.05))
            continue
        chunk = []
        j = i
        while j < n and abs_due[j] <= now:
            _, head, tail = ps[j]
            chunk.append("%s%.6f%s\n" % (head, abs_due[j], tail))
            if (j + 1) % KEEPALIVE_EVERY == 0:
                chunk.append('{"type":"keepalive","timestamp":%.6f}\n' % now)
            if (j + 1) % MALFORMED_EVERY == 0:
                chunk.append("this is not valid json {{{\n")
            j += 1
        conn.sendall("".join(chunk).encode("utf-8"))
        sent = time.time()
        late[i:j] = sent - abs_due[i:j]
        lines += len(chunk)
        i = j

    measured = due >= warm
    summary = {
        "lines": lines,
        "measure_start": t0 + warm,
        "late_p99_ms": float(np.percentile(late[measured], 99) * 1e3),
        "late_max_ms": float(late.max() * 1e3),
        "ids": [ps[k][0] for k in range(n)],
        "due": [float(x) for x in abs_due],
        "burst": [bool(x) for x in burst],
    }
    tmp = a.done_file + ".tmp"
    with open(tmp, "w") as f:
        json.dump(summary, f)
    os.replace(tmp, a.done_file)
    # keep the connection open until the consumer hangs up
    conn.settimeout(150)
    try:
        while conn.recv(65536):
            pass
    except OSError:
        pass
    conn.close()


if __name__ == "__main__":
    main()
