"""Seeded generator of plug rule chains over `lineitem_plug`.

A rule set is drawn so that its cost hardly depends on the seed: the
target hit rates, the condition shapes and the action counts are fixed
multisets that the seed only shuffles and fills in. What the seed changes is
which columns, constants and literals each rule uses.

Conditions come from a small grammar over the lineitem columns: comparisons,
`IN`, `LIKE` and null tests, alone or as an `AND`/`OR` of two. Each rule has
1-3 actions on string, int and double columns; some are backtick SQL, and
some assign the column its current value, which leaves the change gate
closed. Conditions often read columns that earlier rules rewrite.
"""

import json
import random
import re

from datagen import COMMENT_WORDS, KEY_RANGES, SHIP_MODES

# Target hit rates (share of rows a condition matches on the input table).
HIT_LADDER = [0.01, 0.03, 0.05, 0.1, 0.15, 0.2, 0.3, 0.4, 0.5, 0.6]
# Condition shapes: a single atom, or two atoms joined by AND / OR.
SHAPES = ["atom"] * 6 + ["and"] * 2 + ["or"] * 2
# Actions per rule (mean 2).
ACTION_COUNTS = [1, 1, 2, 2, 2, 2, 3, 3, 2, 2]

# Every column an action may target, with the engine's coercion type.
ACTION_COLUMNS = {
    "l_linenumber": "int",
    "l_quantity": "double",
    "l_discount": "double",
    "l_tax": "double",
    "l_returnflag": "string",
    "l_linestatus": "string",
    "l_shipmode": "string",
    "l_comment": "string",
}


def _atom(rng, rate):
    """One predicate whose hit rate on the input table is close to `rate`."""
    if rng.random() < 0.5:  # a column no action writes
        kind = rng.choice(["key", "key", "price"])
    else:
        kind = rng.choice(["quantity", "discount", "shipmode", "like", "null", "line"])
    if kind == "key":  # uniform integers 0..range-1
        key = rng.choice(sorted(KEY_RANGES))
        c = max(1, round(rate * KEY_RANGES[key]))
        return f"{key} < {c}"
    if kind == "quantity":  # uniform integers 1..50
        c = max(1, min(49, round(rate * 50)))
        if rng.random() < 0.5:
            return f"l_quantity <= {c}"
        return f"l_quantity > {50 - c}"
    if kind == "price":  # uniform 900..100000
        p = round(900 + rate * (100000 - 900), 2)
        return f"l_extendedprice < {p}"
    if kind == "discount":  # 0.00..0.10 in steps of 0.01
        k = max(1, min(10, round(rate * 11)))
        return f"l_discount >= {(11 - k) / 100:.2f}"
    if kind == "shipmode":
        k = max(1, min(6, round(rate * 7)))
        modes = ", ".join(f"'{m}'" for m in rng.sample(SHIP_MODES, k))
        return f"l_shipmode IN ({modes})"
    if kind == "like":  # a comment word appears in about 27% of comments
        w = rng.choice(COMMENT_WORDS)
        if rate < 0.15:
            w2 = rng.choice(COMMENT_WORDS)
            return f"l_comment LIKE '%{w}%' AND l_comment LIKE '%{w2}%'"
        return f"l_comment LIKE '%{w}%'"
    if kind == "null":
        if rate < 0.2:
            return "l_comment IS NULL"
        return f"(l_comment IS NULL OR l_returnflag = '{rng.choice('ANR')}')"
    k = max(1, min(6, round(rate * 7)))  # l_linenumber uniform 1..7
    return f"l_linenumber <= {k}"


def _condition(rng, shape, rate):
    if shape == "atom":
        return _atom(rng, rate)
    if shape == "and":  # a * b = rate with a = b
        a = _atom(rng, min(0.95, rate ** 0.5))
        return f"({a}) AND ({_atom(rng, min(0.95, rate ** 0.5))})"
    a = _atom(rng, rate / 2)
    return f"({a}) OR ({_atom(rng, rate / 2)})"


def _action(rng, column):
    """One action on `column`: a literal, backtick SQL, or the current value."""
    kind = ACTION_COLUMNS[column]
    roll = rng.random()
    if roll < 0.12:  # assign the current value: the change gate stays closed
        return {"key": column, "value": f"`{column}`"}
    if kind == "int":
        if roll < 0.35:
            return {"key": column, "value": "`l_linenumber + 1`"}
        return {"key": column, "value": str(rng.randint(1, 7))}
    if kind == "double":
        if roll < 0.35:
            sql = {"l_quantity": "l_quantity + 1",
                   "l_discount": "l_discount * 0.5",
                   "l_tax": "l_tax + 0.01"}[column]
            return {"key": column, "value": f"`{sql}`"}
        if column == "l_quantity":
            return {"key": column, "value": f"{rng.randint(1, 50)}.0"}
        return {"key": column, "value": f"0.0{rng.randint(0, 9)}"}
    if roll < 0.35:
        sql = {"l_returnflag": "lower(l_returnflag)",
               "l_linestatus": "upper(l_linestatus)",
               "l_shipmode": "upper(substr(l_shipmode, 1, 4))",
               "l_comment": "substr(l_comment, 1, 24)"}[column]
        return {"key": column, "value": f"`{sql}`"}
    literal = {"l_returnflag": rng.choice("ANRX"),
               "l_linestatus": rng.choice("OF"),
               "l_shipmode": rng.choice(SHIP_MODES),
               "l_comment": rng.choice(COMMENT_WORDS)}[column]
    return {"key": column, "value": literal}


def _cycled(rng, values, n):
    """`n` items drawn from `values` as whole shuffled rounds."""
    out = []
    while len(out) < n:
        block = list(values)
        rng.shuffle(block)
        out.extend(block)
    return out[:n]


def generate(seed, n_rules):
    """The rule list for (seed, n_rules): plain dicts in the engine's
    JSON rule format (`name`, `version`, `condition`, `actions`)."""
    rng = random.Random(f"perfbench-rules-{seed}-{n_rules}")
    rates = _cycled(rng, HIT_LADDER, n_rules)
    shapes = _cycled(rng, SHAPES, n_rules)
    counts = _cycled(rng, ACTION_COUNTS, n_rules)
    rules = []
    for i in range(n_rules):
        cond = _condition(rng, shapes[i], rates[i])
        cols = rng.sample(sorted(ACTION_COLUMNS), counts[i])
        rules.append({"name": f"r{i:03d}", "version": f"v{1 + i % 3}",
                      "condition": cond,
                      "actions": [_action(rng, c) for c in cols]})
    return rules


def columns_read(condition):
    return set(re.findall(r"\bl_[a-z]+\b", condition))


def rewritten_read_share(rules):
    """Share of rules whose condition reads a column an earlier rule writes."""
    written, hits = set(), 0
    for r in rules:
        if columns_read(r["condition"]) & written:
            hits += 1
        written |= {a["key"] for a in r["actions"]}
    return hits / len(rules) if rules else 0.0


def write_jsonl(rules, path):
    with open(path, "w") as f:
        for r in rules:
            f.write(json.dumps(r) + "\n")
