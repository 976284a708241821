#!/usr/bin/env python3
"""Count OS process starts in a JFR recording, by thread, command and path
root.

Reads the text that `jfr print --events jdk.ProcessStart --stack-depth 40
<recording.jfr>` prints (from a file argument or stdin) and prints one table
per grouping. Without the native libhadoop, Hadoop's local file system starts
a process for every `chmod` (setPermission) and `readlink`
(getFileLinkStatus); this shows which thread paid for them and on which
paths.

    jfr print --events jdk.ProcessStart --stack-depth 40 /tmp/t.jfr > /tmp/t.txt
    python3 tools/jfr_forks.py /tmp/t.txt --batches 40

A command's last path argument is classed as `table` or `checkpoint` by the
perfbench run layout (`<root>/<workload>/table/...`, `.../ckpt/...`);
anything else, and commands without a path, count as `other`. `--batches N`
adds a per-batch column (N = the micro-batches the recording covers).
"""
import argparse
import collections
import re
import sys

FIELD = re.compile(r'^\s*(\w+) = (.*)$')
# a stream thread's name carries its query and run ids; drop them (and the
# JVM thread id) so the threads of one query group together
THREAD_IDS = re.compile(r'\s*\(javaThreadId = \d+\)|\s*\[id = [^\]]*\]')
TABLE = re.compile(r'/table(/|$)')
CHECKPOINT = re.compile(r'/(\w+_)?ckpt(/|$)|/checkpoint(/|$)')


def parse(lines):
    """Yield one dict per jdk.ProcessStart event: thread and command."""
    ev = None
    for line in lines:
        if line.startswith('jdk.ProcessStart'):
            ev = {'thread': '', 'command': ''}
        elif ev is None:
            continue
        elif line.startswith('}'):
            yield ev
            ev = None
        else:
            m = FIELD.match(line)
            if not m:
                continue
            key, val = m.groups()
            if key == 'eventThread':
                name = THREAD_IDS.sub('', val).strip().strip('"')
                ev['thread'] = ('executor task' if name.startswith('Executor task launch worker')
                                else name)
            elif key == 'command':
                ev['command'] = val.strip().strip('"')


def classify(command):
    paths = [a for a in command.split() if a.startswith('/') or a.startswith('file:')]
    path = paths[-1] if paths else ''
    if path and TABLE.search(path):
        return 'table'
    if path and CHECKPOINT.search(path):
        return 'checkpoint'
    return 'other'


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('input', nargs='?', help='jfr print output (default: stdin)')
    ap.add_argument('--batches', type=int, default=0,
                    help='timed micro-batches the recording covers (adds a per-batch column)')
    a = ap.parse_args()

    src = open(a.input) if a.input else sys.stdin
    groups = {k: collections.Counter() for k in ('thread', 'command', 'root')}
    total = 0
    for ev in parse(src):
        total += 1
        groups['thread'][ev['thread'] or '?'] += 1
        groups['command'][(ev['command'].split() or ['?'])[0]] += 1
        groups['root'][classify(ev['command'])] += 1

    def row(name, n):
        per = f'  {n / a.batches:8.1f}/batch' if a.batches else ''
        print(f'  {n:7d}{per}  {name}')

    print(f'jdk.ProcessStart events: {total}')
    for key, title in (('thread', 'by thread'), ('command', 'by command'),
                       ('root', 'by path root')):
        print(title)
        for name, n in groups[key].most_common():
            row(name, n)


if __name__ == '__main__':
    main()
