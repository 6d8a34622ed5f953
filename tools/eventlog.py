#!/usr/bin/env python3
"""Summarize a Spark event log: jobs and shuffle bytes per job description,
and per-micro-batch trigger seconds of each streaming query.

Usage: python3 tools/eventlog.py <event-log-file-or-dir>...

Switch the log on through SPARK_GRAFT_CONF (graft.Verify and
graft.examples.ScaleProbe both read it), as one plain JSON-lines file:

  SPARK_GRAFT_CONF="spark.eventLog.enabled=true;spark.eventLog.dir=file:/tmp/graft-events;spark.eventLog.compress=false;spark.eventLog.rolling.enabled=false"

A directory argument summarizes every file in it. Output is JSON lines:

  {"label": ..., "jobs", "shuffle_read_bytes", "shuffle_write_bytes",
   "spill_bytes"}  one per job description, in first-seen order; jobs with
                   no description are "(none)", and a streaming micro-batch's
                   jobs are "stream<q>/batch<b>", q numbering the queries in
                   start order
  {"label": "(total)", ...}  the whole log
  {"stream": q, "run_id", "input_rows", "trigger_s": {batch: seconds}}
                   one per streaming query, batches with input rows only

Shuffle read is remote plus local bytes read, summed over task ends, and a
job is one SparkListenerJobStart.
"""
import json
import os
import re
import sys
from collections import OrderedDict

STREAM_BATCH = re.compile(r"runId = (\S+)\s+batch = (\S+)")
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"


def summarize(path):
    labels = OrderedDict()
    stage_label = {}
    streams = OrderedDict()  # runId -> {"stream", "run_id", "input_rows", "trigger_s"}

    def stream_of(run_id):
        if run_id not in streams:
            streams[run_id] = {"stream": len(streams) + 1, "run_id": run_id,
                               "input_rows": 0, "trigger_s": {}}
        return streams[run_id]

    def label_of(props):
        desc = (props or {}).get("spark.job.description")
        if not desc:
            return "(none)"
        m = STREAM_BATCH.search(desc)
        if m:
            return "stream%d/batch%s" % (stream_of(m.group(1))["stream"], m.group(2))
        return desc

    def row(label):
        return labels.setdefault(label, OrderedDict(
            label=label, jobs=0, shuffle_read_bytes=0,
            shuffle_write_bytes=0, spill_bytes=0))

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                label = label_of(e.get("Properties"))
                row(label)["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_label.setdefault(sid, label)
            elif kind == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                stage_label[sid] = label_of(e.get("Properties"))
            elif kind == "SparkListenerTaskEnd":
                r = row(stage_label.get(e["Stage ID"], "(none)"))
                m = e.get("Task Metrics") or {}
                read = m.get("Shuffle Read Metrics", {})
                r["shuffle_read_bytes"] += (read.get("Remote Bytes Read", 0) +
                                            read.get("Local Bytes Read", 0))
                r["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            elif kind == STARTED:
                stream_of(e["runId"])
            elif kind == PROGRESS:
                p = e["progress"]
                rows = sum(src.get("numInputRows", 0) for src in p.get("sources", []))
                if rows > 0:
                    s = stream_of(p["runId"])
                    s["input_rows"] += rows
                    s["trigger_s"][p["batchId"]] = p["durationMs"]["triggerExecution"] / 1000

    total = OrderedDict(label="(total)")
    for key in ("jobs", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        total[key] = sum(r[key] for r in labels.values())
    return list(labels.values()) + [total] + list(streams.values())


def main(args):
    if not args:
        sys.exit(__doc__)
    paths = []
    for a in args:
        paths += sorted(os.path.join(a, n) for n in os.listdir(a)) if os.path.isdir(a) else [a]
    for p in paths:
        if len(paths) > 1:
            print(json.dumps({"log": p}))
        for r in summarize(p):
            print(json.dumps(r))


if __name__ == "__main__":
    main(sys.argv[1:])
