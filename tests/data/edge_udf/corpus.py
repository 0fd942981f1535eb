"""Deterministic edge corpus for the identify-UDF differential pin.

``batches()`` returns a list of Arrow-batch-shaped lists of texts (``None``
for a NULL row). The batches cover the regimes the per-batch context has to
get right:

* ``dup_heavy``: more than half the rows are exact duplicates, with NUL,
  embedded ``'\\n'``, ``None``, ``'İ'``, final sigma, CJK, Hangul and empty
  rows among them;
* ``distinct``: every row distinct (scores must stay bit-equal), including a
  100k-char token;
* ``newline_some_dups``: embedded newlines force the per-text lowering path,
  with a few (fewer than half) duplicates;
* ``tiny``: single rows and an all-empty batch.

No imports from the package, so the expected-output generator can run this
module against any checkout.
"""

from __future__ import annotations

SENTENCES = [
    "L'aigua clara",
    "Hola, ¿qué tal?",
    "Korvausinvestoinnit on otettu huomioon liiketoimintasuunnitelmassa "
    "rahoituskuluina ja poistoina.",
    "而目前各方都在追问到底谁应该为这场大疫情在中国的扩散承担责任。",
    "DOKUMENT INFORMACYJNY NR [...]",
    "The quick brown fox jumps over the lazy dog",
    "das ist ein deutscher Satz mit einigen Wörtern",
    "ceci est une phrase française assez ordinaire",
    "questo è un testo italiano",
    "안녕하세요 만나서 반갑습니다",
    "ΟΔΟΣ ΣΟΦΟΚΛΕΟΥΣ ΚΑΙ ΤΈΛΟΣ",
    "İstanbul İZMİR ıi",
    "contact me at john.doe@example.com or +1 (555) 123-4567 now",
    "my ssn is 123-45-6789 ok",
    "spam spam spam spam spam spam",
    "Spam sPAM SPAM spam",
    "this badword sentence has a slurword in it",
    "你好世界 hello 你好世界你好世界你好世界",
    "!!! ??? 123 ...",
    "ẞtraße und ß",
    "é combining marks and é",
    "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𐐷𐐷 astral",
]

EDGE = [
    None,
    "",
    " ",
    "\x00",
    "\x00A",
    "A\x00",
    "A",
    "a\x00b hello",
    "line one\nline two",
    "İ",
    "Σ ΣΣ ς",
    "日本語のテキスト",
    "한국어 문장입니다",
    "\t\r\x0b\x0c",
    "12345678",
]

LONG_TOKEN = "abcdefghij" * 10_000  # one 100k-char token


def batches() -> "list[list]":
    dup_heavy = (EDGE + SENTENCES[:5]) * 3 + [None, "", "\x00A"] * 4
    distinct = (
        SENTENCES
        + [e for e in EDGE if e is not None and "\n" not in e]
        + [LONG_TOKEN, "prefix " + LONG_TOKEN[:5000] + " suffix"]
        + [f"{s} {i}" for i, s in enumerate(SENTENCES)]
    )
    newline = [s.replace(" ", "\n", 1) for s in SENTENCES]
    newline_some_dups = newline + newline[:4] + [None, "", "x\ny"]
    tiny = [[None], [""], ["\x00"], [LONG_TOKEN], ["", "", ""], ["İ\nİ"]]
    return [dup_heavy, distinct, newline_some_dups] + tiny


NAMES = ["dup_heavy", "distinct", "newline_some_dups",
         "tiny_none", "tiny_empty", "tiny_nul", "tiny_long", "tiny_all_empty",
         "tiny_newline"]
