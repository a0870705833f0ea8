#!/usr/bin/env python3
"""Count the library's options: every setting read under src/main/scala.

Usage: python3 tools/knobs.py [REPO_ROOT]   (default: the repo holding this file)

Prints one JSON object:
  env                   environment variable name -> number of read sites
                        (`sys.env...("NAME")`, `System.getenv("NAME")`)
  spark_graft_confs     `spark.graft.*` conf key -> number of literal uses
                        (sets and gets)
  engine_config_fields  `EngineConfig` field -> number of reads: selections
                        on a value typed `: EngineConfig` (`cfg.field`) and
                        bare uses in the class body's own methods, if it
                        has a body; the loader copying defaults is not a read
and the three name counts plus their sum as `options`. Comment lines are
skipped, so a name that is only documented is not counted.
"""
import json
import pathlib
import re
import sys

ENV_READ = re.compile(
    r'(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\s*\(\s*"([A-Za-z0-9_]+)"')
CONF_KEY = re.compile(r'"(spark\.graft\.[A-Za-z0-9_.]+)"')
CASE_CLASS = re.compile(
    r'final case class EngineConfig\((.*?)\)(?:\s*\{(.*?)^\})?', re.S | re.M)
FIELD = re.compile(r'^\s*(\w+)\s*:', re.M)
TYPED = re.compile(r'(\w+)\s*:\s*(?:graft\.engine\.)?EngineConfig\b')


def code_lines(path):
    for line in path.read_text(encoding="utf-8").splitlines():
        s = line.lstrip()
        if s.startswith(("//", "*", "/*")):
            continue
        yield line


def count(pattern, lines, into):
    for line in lines:
        for name in pattern.findall(line):
            into[name] = into.get(name, 0) + 1


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1
                        else pathlib.Path(__file__).resolve().parent.parent)
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    sources = {f: list(code_lines(f)) for f in files}
    env, confs = {}, {}
    for lines in sources.values():
        count(ENV_READ, lines, env)
        count(CONF_KEY, lines, confs)
    fields, body = {}, ""
    for f, lines in sources.items():
        m = CASE_CLASS.search("\n".join(lines))
        if m:
            fields = {name: 0 for name in FIELD.findall(m.group(1))}
            body = m.group(2) or ""
    receivers = {r for lines in sources.values() for line in lines
                 for r in TYPED.findall(line)}
    for name in fields:
        fields[name] = len(re.findall(r'\b%s\b' % name, body))
        for r in receivers:
            fields[name] += sum(len(re.findall(r'\b%s\.%s\b' % (r, name), line))
                                for lines in sources.values() for line in lines)
    out = {
        "env": dict(sorted(env.items())),
        "spark_graft_confs": dict(sorted(confs.items())),
        "engine_config_fields": fields,
        "env_names": len(env),
        "spark_graft_conf_keys": len(confs),
        "engine_config_field_count": len(fields),
        "options": len(env) + len(confs) + len(fields),
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
