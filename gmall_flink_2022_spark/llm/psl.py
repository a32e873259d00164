"""Public-Suffix-List-backed registrable-domain extraction (r9 VERDICT
ask #4): the real PSL rule semantics — normal / wildcard / exception
rules, longest match, exceptions prevail — evaluated as a handful of
BROADCAST hash joins against a suffix dim table, replacing the 14-pair
literal stand-in in :mod:`llm.urls` (which stays as the no-dim
fallback).

Rule model (publicsuffix.org/list semantics — the list itself is public
data; ``PSL_RULES`` bundles a few-hundred-rule subset of the ICANN
section the way ``functions/tokenize.py`` bundles its CJK lexicon; a
deployment swaps in the full list as the same (suffix, kind) dim):

- ``('co.uk', 'n')``   — normal rule: ``co.uk`` is a public suffix;
- ``('kawasaki.jp','w')`` — wildcard rule ``*.kawasaki.jp``: every
  DIRECT CHILD of ``kawasaki.jp`` is a public suffix;
- ``('www.ck', 'x')``  — exception rule ``!www.ck``: carves ``www.ck``
  back OUT of ``*.ck``; the public suffix is the exception minus its
  leftmost label (``ck``).

Matching (the published algorithm): among rules whose labels suffix-
match the host, an exception rule prevails outright; otherwise the
longest match wins; if nothing matches, the implicit ``*`` rule makes
the bare TLD the public suffix. The registrable domain is the public
suffix plus one preceding label; a host that IS a public suffix passes
through unchanged (same contract as the literal fallback).

Plan shape: the host's last-k-label strings (k = 1..MAX_RULE_LABELS)
are pure array expressions; each joins the broadcast rule dim once —
zero shuffles, zero Python, corpus scanned once. Swapping literal ->
dim is exactly the "broadcast join, not a plan change" the module
docstring of :mod:`llm.urls` promised. At 100 TB the rule table is a
few thousand rows — permanently broadcast-resident, the reference's
Redis-cached dim lookup (utils/DimUtil.java:12-44) rendered as
Spark-native broadcast state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.io import local_frame

#: deepest bundled rule, in labels (k12.ma.us = 3); candidate suffixes
#: of length 1..MAX are probed. A full-PSL deployment sets 5 (the
#: list's deepest entries) — one more broadcast probe, same plan.
MAX_RULE_LABELS = 3

# ---------------------------------------------------------------------------
# Bundled subset of the publicly documented PSL (ICANN section).
# kind: 'n' = normal, 'w' = wildcard (*.suffix), 'x' = exception
# (!suffix). TLD-only rules are omitted: the implicit '*' default
# already yields ps_len = 1 for them.
# ---------------------------------------------------------------------------
_N = [
    # uk
    "ac.uk", "co.uk", "gov.uk", "ltd.uk", "me.uk", "net.uk", "nhs.uk",
    "org.uk", "plc.uk", "police.uk", "sch.uk",
    # au
    "asn.au", "com.au", "edu.au", "gov.au", "id.au", "net.au", "org.au",
    # jp (prefecture-style 2LDs)
    "ac.jp", "ad.jp", "co.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
    "ne.jp", "or.jp",
    # nz
    "ac.nz", "co.nz", "geek.nz", "gen.nz", "govt.nz", "health.nz",
    "iwi.nz", "kiwi.nz", "maori.nz", "mil.nz", "net.nz", "org.nz",
    "school.nz",
    # za
    "ac.za", "co.za", "edu.za", "gov.za", "law.za", "mil.za", "net.za",
    "nom.za", "org.za", "school.za", "web.za",
    # sg
    "com.sg", "edu.sg", "gov.sg", "net.sg", "org.sg", "per.sg",
    # br
    "adv.br", "art.br", "com.br", "edu.br", "emp.br", "eng.br",
    "gov.br", "ind.br", "inf.br", "jus.br", "leg.br", "mil.br",
    "net.br", "org.br", "tv.br",
    # cn
    "ac.cn", "bj.cn", "com.cn", "edu.cn", "gov.cn", "mil.cn", "net.cn",
    "org.cn", "sh.cn",
    # in
    "ac.in", "co.in", "edu.in", "firm.in", "gen.in", "gov.in", "ind.in",
    "mil.in", "net.in", "nic.in", "org.in", "res.in",
    # kr
    "ac.kr", "busan.kr", "co.kr", "es.kr", "go.kr", "hs.kr", "kg.kr",
    "mil.kr", "ms.kr", "ne.kr", "or.kr", "pe.kr", "re.kr", "sc.kr",
    "seoul.kr",
    # mx / ar / tr
    "com.mx", "edu.mx", "gob.mx", "net.mx", "org.mx",
    "com.ar", "edu.ar", "gob.ar", "gov.ar", "int.ar", "mil.ar",
    "net.ar", "org.ar", "tur.ar",
    "av.tr", "bel.tr", "biz.tr", "com.tr", "dr.tr", "edu.tr", "gen.tr",
    "gov.tr", "info.tr", "k12.tr", "mil.tr", "name.tr", "net.tr",
    "org.tr", "pol.tr", "tel.tr", "web.tr",
    # ua / th / il
    "com.ua", "edu.ua", "gov.ua", "in.ua", "net.ua", "org.ua",
    "ac.th", "co.th", "go.th", "in.th", "mi.th", "net.th", "or.th",
    "ac.il", "co.il", "gov.il", "idf.il", "k12.il", "muni.il",
    "net.il", "org.il",
    # id / my / ph / vn / tw / hk
    "ac.id", "biz.id", "co.id", "go.id", "mil.id", "my.id", "net.id",
    "or.id", "sch.id", "web.id",
    "com.my", "edu.my", "gov.my", "mil.my", "name.my", "net.my",
    "org.my",
    "com.ph", "edu.ph", "gov.ph", "mil.ph", "net.ph", "ngo.ph",
    "org.ph",
    "ac.vn", "biz.vn", "com.vn", "edu.vn", "gov.vn", "health.vn",
    "info.vn", "int.vn", "name.vn", "net.vn", "org.vn", "pro.vn",
    "club.tw", "com.tw", "edu.tw", "game.tw", "gov.tw", "idv.tw",
    "mil.tw", "net.tw", "org.tw",
    "com.hk", "edu.hk", "gov.hk", "idv.hk", "net.hk", "org.hk",
    # ke / ng / eg / sa / ae
    "ac.ke", "co.ke", "go.ke", "info.ke", "me.ke", "mobi.ke", "ne.ke",
    "or.ke", "sc.ke",
    "com.ng", "edu.ng", "gov.ng", "mil.ng", "name.ng", "net.ng",
    "org.ng", "sch.ng",
    "com.eg", "edu.eg", "eun.eg", "gov.eg", "mil.eg", "name.eg",
    "net.eg", "org.eg", "sci.eg",
    "com.sa", "edu.sa", "gov.sa", "med.sa", "net.sa", "org.sa",
    "pub.sa", "sch.sa",
    "ac.ae", "co.ae", "gov.ae", "mil.ae", "net.ae", "org.ae", "sch.ae",
    # ru / pl / fr / it
    "ac.ru", "edu.ru", "gov.ru", "int.ru", "mil.ru",
    "com.pl", "edu.pl", "gov.pl", "net.pl", "org.pl", "waw.pl",
    "asso.fr", "com.fr", "gouv.fr", "nom.fr", "prd.fr", "tm.fr",
    "edu.it", "gov.it",
    # us: state 2LDs + the 3-label k12/cc/lib layer (the depth-3 rules)
    "ca.us", "ma.us", "ny.us", "tx.us", "wa.us",
    "cc.ca.us", "k12.ca.us", "k12.ma.us", "k12.ny.us", "k12.tx.us",
    "k12.wa.us", "lib.ca.us", "lib.ma.us", "lib.ny.us",
]
_W = [
    # wildcard TLDs / 2LDs: *.ck, *.bd, *.jm, *.np and the jp city
    # blocks *.kawasaki.jp etc.
    "ck", "bd", "jm", "np",
    "kawasaki.jp", "kitakyushu.jp", "kobe.jp", "nagoya.jp",
    "sapporo.jp", "sendai.jp", "yokohama.jp",
]
_X = [
    # exceptions carved out of the wildcards above
    "www.ck",
    "city.kawasaki.jp", "city.kitakyushu.jp", "city.kobe.jp",
    "city.nagoya.jp", "city.sapporo.jp", "city.sendai.jp",
    "city.yokohama.jp",
]

PSL_RULES: list[tuple[str, str]] = (
    [(s, "n") for s in _N] + [(s, "w") for s in _W] + [(s, "x") for s in _X]
)

assert len({s for s, _ in PSL_RULES}) == len(PSL_RULES), "duplicate PSL rule"
assert max(s.count(".") + 1 for s, _ in PSL_RULES) <= MAX_RULE_LABELS

PSL_TABLE = "psl_suffix_rules"


def psl_rules_df(spark: SparkSession) -> DataFrame:
    """The bundled rules as a (suffix, kind) frame — the dim a
    deployment persists once (DimStore / any lakehouse dim table) and
    broadcasts everywhere."""
    return local_frame(spark, PSL_RULES, "suffix string, kind string")


def registrable_domain_psl(
    df: DataFrame,
    host_col: str,
    rules: DataFrame,
    out_col: str = "domain",
    max_labels: int = MAX_RULE_LABELS,
) -> DataFrame:
    """Append ``out_col`` = PSL registrable domain of ``host_col``.

    One broadcast left join per candidate suffix depth (k = 1 ..
    max_labels) — the suffix strings are narrow array expressions, the
    decision is a pure CASE over the joined rule kinds:

    - any exception match at depth k  -> public-suffix length k-1
      (exceptions prevail outright, per the published algorithm);
    - else max over matches: normal at k -> k; wildcard at k -> k+1
      when the host is deep enough to have a child label; default 1
      (the implicit '*' rule);
    - registrable domain = last (ps_len + 1) labels; a host that IS a
      public suffix (or a bare TLD / single label) passes through.
    """
    host = F.col(host_col)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    out = df
    kind_cols = []
    for k in range(1, max_labels + 1):
        sfx = F.when(n >= k, F.array_join(F.slice(labels, -k, k), "."))
        kc = f"__psl_k{k}"
        rk = rules.select(
            F.col("suffix").alias(f"__psl_s{k}"), F.col("kind").alias(kc)
        )
        out = out.withColumn(f"__psl_s{k}", sfx).join(
            F.broadcast(rk), f"__psl_s{k}", "left"
        )
        kind_cols.append(kc)
    exc = F.coalesce(
        *[
            F.when(F.col(kc) == "x", F.lit(k))
            for k, kc in enumerate(kind_cols, start=1)
        ],
        F.lit(None).cast("int"),
    )
    cands = [F.lit(1)]
    for k, kc in enumerate(kind_cols, start=1):
        cands.append(F.when(F.col(kc) == "n", F.lit(k)).otherwise(F.lit(1)))
        cands.append(
            F.when((F.col(kc) == "w") & (n >= k + 1), F.lit(k + 1)).otherwise(
                F.lit(1)
            )
        )
    ps_len = F.when(exc.isNotNull(), exc - 1).otherwise(F.greatest(*cands))
    dom = F.when(n <= ps_len, host).otherwise(
        F.array_join(F.slice(labels, (ps_len + 1) * -1, ps_len + 1), ".")
    )
    drop = [f"__psl_s{k}" for k in range(1, max_labels + 1)] + kind_cols
    return out.withColumn(out_col, dom).drop(*drop)


# ---------------------------------------------------------------------------
# Oracle rendering: the same rule table as a VALUES CTE and the same
# CASE decision in ANSI SQL, generated from the one rule list so the
# two engines cannot drift.
# ---------------------------------------------------------------------------
def psl_rules_values_sql() -> str:
    """``pslrules(suffix, kind)`` VALUES body for an oracle CTE."""
    return ", ".join(f"('{s}', '{k}')" for s, k in PSL_RULES)


def psl_domain_sql(
    src: str, host_expr: str = "host", max_labels: int = MAX_RULE_LABELS
) -> str:
    """CTE chain computing ``domain`` for every row of ``src`` (which
    must expose ``{host_expr}``); exposes CTE ``psldom`` with all of
    ``src``'s columns plus ``domain``. Mirrors
    :func:`registrable_domain_psl` decision-for-decision."""
    sfx_cols = ", ".join(
        f"CASE WHEN len(__L) >= {k} THEN "
        f"array_to_string(__L[len(__L)-{k - 1}:len(__L)], '.') END AS __s{k}"
        for k in range(1, max_labels + 1)
    )
    joins = "\n        ".join(
        f"LEFT JOIN pslrules __r{k} ON __r{k}.suffix = __f.__s{k}"
        for k in range(1, max_labels + 1)
    )
    kind_cols = ", ".join(
        f"__r{k}.kind AS __k{k}" for k in range(1, max_labels + 1)
    )
    exc_branches = " ".join(
        f"WHEN __k{k} = 'x' THEN {k - 1}" for k in range(1, max_labels + 1)
    )
    cand_exprs = ["1"]
    for k in range(1, max_labels + 1):
        cand_exprs.append(f"CASE WHEN __k{k} = 'n' THEN {k} ELSE 1 END")
        cand_exprs.append(
            f"CASE WHEN __k{k} = 'w' AND __n >= {k + 1} THEN {k + 1} "
            "ELSE 1 END"
        )
    cands = ", ".join(cand_exprs)
    return f"""
    pslrules(suffix, kind) AS (VALUES {psl_rules_values_sql()}),
    __lab AS (SELECT *, string_split({host_expr}, '.') AS __L FROM {src}),
    __sfx AS (SELECT *, len(__L) AS __n, {sfx_cols} FROM __lab),
    __jn AS (SELECT __f.*, {kind_cols} FROM __sfx __f
        {joins}),
    __ps AS (SELECT *, CASE {exc_branches}
                  ELSE greatest({cands}) END AS __pl FROM __jn),
    psldom AS (SELECT * EXCLUDE (__L, __n, __pl,
                    {", ".join(f"__s{k}, __k{k}" for k in range(1, max_labels + 1))}),
               CASE WHEN __n <= __pl THEN {host_expr}
                    ELSE array_to_string(__L[__n-__pl:__n], '.')
               END AS domain
        FROM __ps)"""
