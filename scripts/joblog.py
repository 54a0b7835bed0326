#!/usr/bin/env python3
"""Summarize a Spark event log into per-job wall times (guide §1/§7).

Usage: python3 scripts/joblog.py /tmp/sparklogs/<app-id> [minSec]

Prints one line per job: jobId, wall seconds, #stages, total task time,
and the callsite/description — the poor man's Stages tab for a headless
sandbox. Point Bench (any selection: all, --anchors, named queries) at an
event-log dir via
  -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/sparklogs
(scripts/runmain.sh passes JAVA_TOOL-style -D flags through EXTRA_JAVA_OPTS).
"""
import json, sys

path = sys.argv[1]
min_sec = float(sys.argv[2]) if len(sys.argv) > 2 else 0.0
jobs = {}
stage_time = {}
for line in open(path):
    try:
        e = json.loads(line)
    except json.JSONDecodeError:
        continue
    ev = e.get('Event')
    if ev == 'SparkListenerJobStart':
        props = e.get('Properties') or {}
        jobs[e['Job ID']] = {
            'start': e['Submission Time'],
            'desc': props.get('spark.job.description',
                              props.get('callSite.short', '')),
            'stages': len(e.get('Stage IDs', [])),
        }
    elif ev == 'SparkListenerJobEnd':
        j = jobs.get(e['Job ID'])
        if j:
            j['end'] = e['Completion Time']
    elif ev == 'SparkListenerStageCompleted':
        si = e['Stage Info']
        sub = si.get('Submission Time'); com = si.get('Completion Time')
        if sub and com:
            stage_time[si['Stage ID']] = (com - sub) / 1000.0

total = 0.0
for jid in sorted(jobs):
    j = jobs[jid]
    if 'end' not in j:
        continue
    w = (j['end'] - j['start']) / 1000.0
    total += w
    if w >= min_sec:
        print(f"job {jid:4d}  {w:7.2f}s  stages={j['stages']:2d}  {j['desc'][:110]}")
print(f"total job wall {total:.2f}s over {len(jobs)} jobs; "
      f"stage-time sum {sum(stage_time.values()):.2f}s over {len(stage_time)} stages")
