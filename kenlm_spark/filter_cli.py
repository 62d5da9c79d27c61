"""CLI twin of the reference's `filter` tool (lm/filter/filter_main.cc):
restrict an ARPA model to the n-grams a target vocabulary / sentence set
can produce — Spark-distributed, so the posting intersection scales.

    python -m kenlm_spark.filter_cli single vocab:words.txt in.arpa out.arpa
    python -m kenlm_spark.filter_cli union vocab:sents.txt in.arpa out.arpa
    python -m kenlm_spark.filter_cli multiple vocab:sents.txt in.arpa out
    python -m kenlm_spark.filter_cli copy in.arpa out.arpa

Modes (lm/filter/filter_main.cc:24-47, semantics from lm/filter/vocab.hh —
the same transcriptions behind the oracle-green q_filter_* queries):

* ``copy``    — re-emit the model (normalizes formatting).
* ``single``  — vocab file is whitespace-separated words; keep an n-gram
  iff every non-tag word is in the vocabulary.
* ``union``   — vocab file has one sentence per line; keep iff SOME single
  sentence contains all non-tag words.
* ``multiple``— like union but fan-out: writes one model per sentence to
  ``<output><i>`` (the reference's numbered-output convention).
* ``context`` modifier — only the context (all but the last word) must
  pass; the whole n-gram is emitted.
* ``phrase`` modifier (union) — sentence lines are phrases; an n-gram
  passes iff coverable by the phrase set (lm/filter/phrase.hh semantics,
  q_filter_phrase's oracle-checked coverage DP).
* ``raw`` modifier — count-file format (lm/filter/count_io.hh:
  ``w1 w2 ...<TAB>count`` per line) instead of ARPA; lines pass through
  verbatim. ``arpa`` (the default) may be given explicitly.

The reference streams the LM through stdin; here the model is a
positional argument ("-" reads stdin). Original n-gram lines are copied
through verbatim, as the reference does. Filtered models can have
dangling backoffs — same caveat as the reference tool.
"""

from __future__ import annotations

import sys


def _read_arpa(fh) -> dict[int, list]:
    """-> {order: [(words_tuple, raw_line), ...]}, lines verbatim. Read
    through the loader's line grammar, so a malformed model raises
    ArpaFormatError instead of being misparsed."""
    from kenlm_spark.ngram.arpa import arpa_sections

    return {sec.n: list(zip(sec.grams(), sec.lines)) for sec in arpa_sections(fh)}


def _write_arpa(sections: dict[int, list], out) -> None:
    out.write("\\data\\\n")
    for n in sorted(sections):
        out.write(f"ngram {n}={len(sections[n])}\n")
    out.write("\n")
    for n in sorted(sections):
        out.write(f"\\{n}-grams:\n")
        for _, raw in sections[n]:
            out.write(raw + "\n")
        out.write("\n")
    out.write("\\end\\\n")


def main(argv=None) -> int:
    # reference-style positional grammar:
    #   filter_cli [--master M] MODIFIER... MODE [vocab:FILE] MODEL OUTPUT
    args = list(sys.argv[1:] if argv is None else argv)
    master = "local[*]"
    if "--master" in args:
        i = args.index("--master")
        master = args[i + 1]
        del args[i : i + 2]

    def usage(msg: str) -> int:
        print(f"error: {msg}\nusage: filter_cli [--master M] "
              "[context] [phrase] copy|single|union|multiple "
              "[vocab:FILE] MODEL OUTPUT", file=sys.stderr)
        return 2

    mods = set()
    while args and args[0] in ("context", "phrase", "raw", "arpa"):
        mods.add(args.pop(0))
    if not args:
        return usage("missing mode")
    mode = args.pop(0)
    if mode not in ("copy", "single", "union", "multiple"):
        return usage(f"unknown mode {mode!r}")
    vocab_path = None
    if mode != "copy":
        if not (args and args[0].startswith("vocab:")):
            return usage(f"mode {mode!r} requires vocab:<file>")
        vocab_path = args.pop(0)[len("vocab:"):]
    if len(args) != 2:
        return usage(f"expected MODEL OUTPUT, got {args}")
    model_path, out_path = args

    raw_fmt = "raw" in mods
    fh = sys.stdin if model_path == "-" else open(model_path)
    if raw_fmt:
        # count-file format (lm/filter/count_io.hh): "w1 w2 ...\tcount"
        sections = {}
        for line in fh:
            line = line.rstrip("\n")
            if not line:
                continue
            gram = line.split("\t", 1)[0]
            words = tuple(gram.split(" "))
            sections.setdefault(len(words), []).append((words, line))
    else:
        sections = _read_arpa(fh)

    def write_out(filtered, out):
        if raw_fmt:
            for n in sorted(filtered):
                for _, raw in filtered[n]:
                    out.write(raw + "\n")
        else:
            _write_arpa(filtered, out)

    if mode == "copy":
        with open(out_path, "w") as out:
            write_out(sections, out)
        return 0

    from pyspark.sql import SparkSession

    from kenlm_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("filter", master=master)
    spark.sparkContext.setLogLevel("ERROR")

    rows = [
        (n, list(w if "context" not in mods else w[:-1]), list(w))
        for n, sec in sections.items()
        for w, _ in sec
    ]
    ng = spark.createDataFrame(
        rows, "order int, words array<string>, full array<string>"
    )
    raw_by_gram = {
        (n, w): raw for n, sec in sections.items() for w, raw in sec
    }

    vocab_text = open(vocab_path).read()
    if mode == "single":
        from kenlm_spark.operators.model_filter import filter_single

        vocab = spark.createDataFrame(
            [(w,) for w in set(vocab_text.split())], "word string"
        )
        kept = filter_single(ng, vocab).select("order", "full")
        kept_sets = {None: {(r["order"], tuple(r["full"]))
                            for r in kept.collect()}}
    elif "phrase" in mods:
        from kenlm_spark.operators.phrase_filter import phrase_filter

        phrases = [ln.split() for ln in vocab_text.splitlines() if ln.split()]
        kept = phrase_filter(ng, phrases).select("order", "full")
        kept_sets = {None: {(r["order"], tuple(r["full"]))
                            for r in kept.collect()}}
    else:
        from kenlm_spark.operators.model_filter import (
            filter_multiple,
            filter_union,
            sentence_postings,
        )

        sents = [ln for ln in vocab_text.splitlines() if ln.strip()]
        docs = spark.createDataFrame(
            list(enumerate(sents)), "doc_id long, text string"
        )
        postings = sentence_postings(docs)
        if mode == "union":
            kept = filter_union(ng, postings).select("order", "full")
            kept_sets = {None: {(r["order"], tuple(r["full"]))
                                for r in kept.collect()}}
        else:  # multiple: one model per sentence
            # filter_multiple emits (order, words, sent_id); rejoin to
            # recover the full (untrimmed) gram — a context gram shared by
            # several full grams fans out to each, as it should
            kept = (
                filter_multiple(ng, postings)
                .join(ng.select("order", "words", "full"), ["order", "words"])
                .select("order", "full", "sent_id")
            )
            kept_sets = {}
            for r in kept.collect():
                kept_sets.setdefault(int(r["sent_id"]), set()).add(
                    (r["order"], tuple(r["full"]))
                )
            for i in range(len(sents)):
                kept_sets.setdefault(i, set())

    for sent_id, keep in sorted(
        kept_sets.items(), key=lambda kv: (kv[0] is not None, kv[0])
    ):
        filtered = {
            n: [(w, raw_by_gram[(n, w)]) for w, _ in sections[n]
                if (n, w) in keep]
            for n in sections
        }
        path = out_path if sent_id is None else f"{out_path}{sent_id}"
        with open(path, "w") as out:
            write_out(filtered, out)
    if not preexisting:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
