#!/usr/bin/env python3
"""Writes the MapReduce-core test fixture under src/test/resources/mr/.

    python3 scripts/gen_mr_fixture.py

The fixture stands in for the reference demo's `test/` directory: a
`config.ini` in the reference dialect (the demo's own values, whose
`input/testdata_*.txt` files do not ship, as in the reference) and two
seeded English-like text files, `input1.txt` (~120 KB) and `input2.txt`
(~80 KB). The text exercises every word-count delimiter (space, comma,
period, double and single quote), runs and leading/trailing runs of them,
empty lines, mixed case, and the curly apostrophe U+2019, which is NOT a
delimiter. Output is deterministic: re-running rewrites identical bytes.
"""
import os
import random

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src", "test", "resources", "mr")

CONFIG = """n_workers=5
worker_ipaddr_ports=localhost:50051,localhost:50052,localhost:50053,localhost:50054,localhost:50055
input_files=input/testdata_1.txt,input/testdata_2.txt,input/testdata_3.txt
output_dir=output
n_output_files=10
map_kilobytes=10
user_id=cs6210
"""

WORDS = ("the and to a of it she said in was you i alice that as her at on all with had "
         "but for so be not very what this they little he out is down up one about were "
         "would went there queen king when could again like them if know then do time "
         "off into or see their how herself rabbit head thought way hatter mock turtle "
         "gryphon dormouse caterpillar cat duchess tea garden door key bottle cake "
         "curious wonder dream tale long sharp great large small white golden").split()
CURLY = ["don’t", "won’t", "Alice’s", "it’s", "I’m", "can’t"]
ASCII_APOS = ["don't", "won't", "Alice's", "it's", "I'm", "can't"]
ZIPF = [1.0 / (i + 1) for i in range(len(WORDS))]
SYLLABLES = "ba ko ri ne su ta mo li ve da".split()


def word(rng):
    r = rng.random()
    if r < 0.02:
        return rng.choice(CURLY)
    if r < 0.04:
        return rng.choice(ASCII_APOS)
    if r < 0.10:  # a long tail of rare made-up words
        return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))
    w = rng.choices(WORDS, weights=ZIPF)[0]
    return w.capitalize() if rng.random() < 0.08 else w


def sentence(rng):
    words = [word(rng) for _ in range(rng.randint(3, 14))]
    for i in range(1, len(words)):
        if rng.random() < 0.12:
            words[i - 1] += ","
    s = " ".join(words)
    s = s[0].upper() + s[1:] + rng.choice([".", ".", ".", "...", ",", ""])
    if rng.random() < 0.15:
        s = '"' + s + '"'
    if rng.random() < 0.05:
        s = "'" + s + "'"
    return s


def text(rng, n_bytes):
    lines, size = [], 0
    while size < n_bytes:
        r = rng.random()
        if r < 0.06:
            line = ""
        elif r < 0.09:
            line = "  .. " + sentence(rng) + " ,"
        else:
            line = " ".join(sentence(rng) for _ in range(rng.randint(1, 3)))
        lines.append(line)
        size += len(line.encode("utf-8")) + 1
    return "\n".join(lines) + "\n"


def main():
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "config.ini"), "w", encoding="utf-8") as f:
        f.write(CONFIG)
    for name, seed, n_bytes in (("input1.txt", 1, 120_000), ("input2.txt", 2, 80_000)):
        with open(os.path.join(OUT, name), "w", encoding="utf-8", newline="\n") as f:
            f.write(text(random.Random(seed), n_bytes))


if __name__ == "__main__":
    main()
