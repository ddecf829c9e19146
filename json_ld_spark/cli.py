"""Command-line interface: expand / compact / flatten / frame / tordf /
fromrdf over local JSON-LD (and N-Quads) files, plus the Spark
pipeline runner.

Parity: bin/jsonld + Format.cli_exec
(/root/reference/bin/jsonld:13-66, lib/json/ld/format.rb:51-113) —
same operations, same flag names where they translate.

Document-level ops run the pure core (no Spark needed); `pipeline`
submits the distributed job (use spark-submit --py-files for a real
cluster).

Examples:
    python -m json_ld_spark.cli expand doc.jsonld
    python -m json_ld_spark.cli compact doc.jsonld --context ctx.jsonld
    python -m json_ld_spark.cli tordf doc.jsonld
    python -m json_ld_spark.cli fromrdf doc.nq
    python -m json_ld_spark.cli pipeline --input transcripts.parquet \\
        --output /tmp/kg_out --cpus 8
"""

from __future__ import annotations

import argparse
import json
import sys


def _read_json(path: str):
    with open(path) as f:
        if path.endswith((".html", ".htm")):
            # HTML input: extract the JSON-LD script(s) (api.rb:766-887)
            from json_ld_spark.core.html import extract_jsonld

            doc, _base = extract_jsonld(f.read())
            return doc
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="json-ld-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    for op in ("expand", "flatten", "tordf"):
        sp = sub.add_parser(op)
        sp.add_argument("input")
        sp.add_argument("--base", default=None)
        sp.add_argument("--ordered", action="store_true")
        sp.add_argument("--rdfstar", action="store_true")
        if op == "flatten":
            sp.add_argument("--context", default=None)
        if op == "tordf":
            sp.add_argument("--produce-generalized-rdf", action="store_true")

    sp = sub.add_parser("compact")
    sp.add_argument("input")
    sp.add_argument("--context", required=True)
    sp.add_argument("--base", default=None)

    sp = sub.add_parser("frame")
    sp.add_argument("input")
    sp.add_argument("--frame", required=True)
    sp.add_argument("--base", default=None)

    sp = sub.add_parser("fromrdf")
    sp.add_argument("input", help="N-Quads file")
    sp.add_argument("--use-native-types", action="store_true")
    sp.add_argument("--stream", action="store_true",
                    help="incremental streaming writer (constant memory)")
    sp.add_argument("--context", default=None,
                    help="compact each node with this context (--stream)")

    sp = sub.add_parser("pipeline")
    sp.add_argument("--input", required=True, help="transcripts parquet path")
    sp.add_argument("--output", required=True)
    sp.add_argument("--cpus", type=int, default=8)
    sp.add_argument("--no-resume", action="store_true")

    args = p.parse_args(argv)

    from json_ld_spark.core import api

    if args.cmd == "expand":
        out = api.expand(_read_json(args.input), base=args.base,
                         ordered=args.ordered, rdfstar=args.rdfstar)
        print(json.dumps(out, indent=2))
    elif args.cmd == "compact":
        out = api.compact(_read_json(args.input), _read_json(args.context),
                          base=args.base)
        print(json.dumps(out, indent=2))
    elif args.cmd == "flatten":
        ctx = _read_json(args.context) if args.context else None
        out = api.flatten(_read_json(args.input), ctx, base=args.base,
                          ordered=args.ordered, rdfstar=args.rdfstar)
        print(json.dumps(out, indent=2))
    elif args.cmd == "frame":
        out = api.frame(_read_json(args.input), _read_json(args.frame),
                        base=args.base)
        print(json.dumps(out, indent=2))
    elif args.cmd == "tordf":
        from json_ld_spark.core.rdf import triple_to_nquads

        triples = api.to_rdf(
            _read_json(args.input), base=args.base,
            produce_generalized_rdf=args.produce_generalized_rdf,
            rdfstar=args.rdfstar,
        )
        for t in triples:
            print(triple_to_nquads(t))
    elif args.cmd == "fromrdf" and getattr(args, "stream", False):
        from json_ld_spark.core.rdf import parse_nquads
        from json_ld_spark.core.streaming_writer import stream_write_jsonld

        with open(args.input) as f:
            triples = parse_nquads(f.read())
        ctx = _read_json(args.context) if args.context else None
        if isinstance(ctx, dict) and "@context" in ctx:
            ctx = ctx["@context"]
        for chunk in stream_write_jsonld(triples, context=ctx):
            sys.stdout.write(chunk)
        sys.stdout.write("\n")
    elif args.cmd == "fromrdf":
        from json_ld_spark.core.rdf import parse_nquads

        with open(args.input) as f:
            triples = parse_nquads(f.read())
        out = api.from_rdf(triples, use_native_types=args.use_native_types)
        print(json.dumps(out, indent=2))
    elif args.cmd == "pipeline":
        from json_ld_spark.pipeline import run_pipeline
        from json_ld_spark.plans.session import build_session
        from json_ld_spark.sources.transcripts import read_transcripts

        spark = build_session(cpus=args.cpus)
        metrics = run_pipeline(
            spark,
            read_transcripts(spark, args.input),
            args.output,
            resume=not args.no_resume,
        )
        print(json.dumps(metrics))
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
