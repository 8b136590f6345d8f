"""Seeded GA4-shaped rule corpus and event generator for the benchmark.

The corpus has the shape of the GA4 recommended-events seed corpus that the
engine was designed against: 36 event types, about 35 distinct top-level
fields, 136 (type, key) pairs that collapse to about 82 distinct (key, spec)
subtrees, a pinned ``event_name`` value per type, a nested ``items`` array
schema, and a few value, regex and enum rules.

The structure (which keys each type declares, how many spec variants each
field has) is fixed, so every seed compiles a plan of the same size. The seed
only chooses which types get which spec variant, the enum lists and the
events themselves.
"""

from __future__ import annotations

import json
import random

# type -> top-level keys besides event_name (GA4 recommended events)
TYPE_KEYS: dict[str, list[str]] = {
    "add_payment_info": ["currency", "value", "coupon", "payment_type", "items"],
    "add_shipping_info": ["currency", "value", "coupon", "shipping_tier", "items"],
    "add_to_cart": ["currency", "value", "items"],
    "add_to_wishlist": ["currency", "value", "items"],
    "begin_checkout": ["currency", "value", "coupon", "items"],
    "close_convert_lead": ["currency", "value"],
    "close_unconvert_lead": ["currency", "value", "unconvert_lead_reason"],
    "disqualify_lead": ["currency", "value", "disqualified_lead_reason"],
    "earn_virtual_currency": ["virtual_currency_name", "value"],
    "generate_lead": ["currency", "value", "lead_source"],
    "join_group": ["group_id"],
    "level_end": ["level_name", "success"],
    "level_start": ["level_name"],
    "level_up": ["level", "character"],
    "login": ["method"],
    "post_score": ["score", "level", "character"],
    "purchase": ["currency", "value", "transaction_id", "coupon", "shipping",
                 "tax", "items"],
    "qualify_lead": ["currency", "value"],
    "refund": ["currency", "transaction_id", "value", "coupon", "shipping",
               "tax", "items"],
    "remove_from_cart": ["currency", "value", "items"],
    "search": ["search_term"],
    "select_content": ["content_type", "content_id"],
    "select_item": ["item_list_id", "item_list_name", "items"],
    "select_promotion": ["creative_name", "creative_slot", "promotion_id",
                         "promotion_name", "items"],
    "share": ["method", "content_type", "item_id"],
    "sign_up": ["method"],
    "spend_virtual_currency": ["value", "virtual_currency_name", "item_name"],
    "tutorial_begin": [],
    "tutorial_complete": [],
    "unlock_achievement": ["achievement_id"],
    "view_cart": ["currency", "value", "items"],
    "view_item": ["currency", "value", "items", "location_id"],
    "view_item_list": ["item_list_id", "item_list_name", "items"],
    "view_promotion": ["creative_name", "creative_slot", "promotion_id",
                       "promotion_name", "items"],
    "view_search_results": ["search_term"],
    "working_lead": ["currency", "value", "lead_status"],
}

_S = {"type": "string"}
_S_OPT = {"type": "string", "optional": True}
_N = {"type": "number"}
_N_OPT = {"type": "number", "optional": True}

_ITEM_FULL = {
    "item_id": {"type": "string"},
    "item_name": {"type": "string"},
    "affiliation": _S_OPT,
    "coupon": _S_OPT,
    "discount": _N_OPT,
    "index": _N_OPT,
    "item_brand": _S_OPT,
    "item_category": _S_OPT,
    "item_category2": _S_OPT,
    "item_list_id": _S_OPT,
    "item_variant": _S_OPT,
    "location_id": _S_OPT,
    "price": {"type": "number"},
    "quantity": {"type": "number"},
}
_ITEM_LIST = {
    "item_id": {"type": "string"},
    "item_name": _S_OPT,
    "index": _N_OPT,
    "item_list_id": _S_OPT,
    "price": _N_OPT,
}
_ITEM_PROMO = {
    "item_id": {"type": "string"},
    "item_name": _S_OPT,
    "promotion_id": _S_OPT,
    "creative_slot": _S_OPT,
}

# field -> spec variants; a type takes one variant per key. Fields with more
# than one variant are what keeps the distinct-spec count above the field
# count, as the cross-type drift in the real corpus does.
def _variants(rng: random.Random) -> dict[str, list[dict]]:
    pay = rng.sample(["Credit Card", "Paypal", "Gift Card", "Apple Pay",
                      "Bank Transfer"], 3)
    tiers = rng.sample(["Ground", "Express", "Overnight", "Pickup"], 3)
    methods = rng.sample(["Google", "email", "Apple", "Facebook"], 3)
    return {
        "currency": [{"type": "string", "regex": "^[A-Z]{3}$"},
                     {"type": "string", "regex": "^[A-Z]{3}$",
                      "optional": True},
                     {"type": "string", "length": 3}],
        "value": [_N, _N_OPT, {"type": "number", "regex": "^[0-9.]+$"}],
        "coupon": [_S_OPT],
        "payment_type": [{"type": "string", "enum": pay}],
        "shipping_tier": [{"type": "string", "enum": tiers}],
        "items": [{"type": "array", "nestedSchema": _ITEM_FULL},
                  {"type": "array", "nestedSchema": _ITEM_LIST},
                  {"type": "array", "nestedSchema": _ITEM_PROMO},
                  {"type": "array", "optional": True,
                   "nestedSchema": _ITEM_LIST}],
        "transaction_id": [{"type": "string", "regex": "^T[0-9]+$"}, _S],
        "shipping": [_N_OPT],
        "tax": [_N_OPT],
        "unconvert_lead_reason": [_S],
        "disqualified_lead_reason": [_S],
        "virtual_currency_name": [_S],
        "lead_source": [_S_OPT],
        "group_id": [_S],
        "level_name": [_S],
        "success": [{"type": "boolean", "optional": True}],
        "level": [_N],
        "character": [_S_OPT],
        "method": [{"type": "string", "enum": methods}, _S],
        "score": [_N],
        "search_term": [_S, {"type": "string", "regex": "\\S"}],
        "content_type": [_S],
        "content_id": [_S],
        "item_list_id": [_S_OPT, _S],
        "item_list_name": [_S_OPT, _S],
        "creative_name": [_S_OPT],
        "creative_slot": [_S_OPT],
        "promotion_id": [_S_OPT],
        "promotion_name": [_S_OPT],
        "item_id": [_S],
        "item_name": [_S],
        "achievement_id": [_S],
        "lead_status": [_S],
        "location_id": [_S_OPT],
    }


def build_corpus(seed: int) -> dict[str, dict]:
    """rules_by_name for the 36 types. Each multi-variant field hands its
    variants out round-robin over a seeded order of its types, so every
    variant is used and the distinct-spec count does not depend on the seed."""
    rng = random.Random(seed)
    variants = _variants(rng)
    users: dict[str, list[str]] = {}
    for name, keys in TYPE_KEYS.items():
        for k in keys:
            users.setdefault(k, []).append(name)
    chosen: dict[tuple[str, str], dict] = {}
    for field, types in users.items():
        order = list(types)
        rng.shuffle(order)
        vs = variants[field]
        for i, t in enumerate(order):
            chosen[(t, field)] = vs[i % len(vs)]
    corpus = {}
    for name, keys in TYPE_KEYS.items():
        rules = {"event_name": {"type": "string", "value": name}}
        for k in keys:
            rules[k] = chosen[(name, k)]
        corpus[name] = rules
    return corpus


def corpus_shape(corpus: dict[str, dict]) -> dict:
    pairs = [(k, json.dumps(r, sort_keys=True))
             for rules in corpus.values() for k, r in rules.items()]
    return {"types": len(corpus),
            "distinct_fields": len({k for k, _ in pairs}),
            "type_key_pairs": len(pairs),
            "distinct_specs": len(set(pairs))}


# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------

_WORDS = ("shoe shirt lamp desk mug kettle phone cable chair sofa blanket "
          "pillow watch ring bag wallet jacket scarf glove sock").split()
_CURRENCIES = ["USD", "EUR", "GBP", "JPY", "CAD"]


def _value_for(rng: random.Random, field: str, rule: dict):
    t = rule.get("type")
    if "enum" in rule:
        return rng.choice(rule["enum"])
    if field == "currency":
        return rng.choice(_CURRENCIES)
    if field == "transaction_id":
        return f"T{rng.randrange(10**8)}"
    if t == "number":
        return round(rng.uniform(0, 500), 2) if field in (
            "value", "shipping", "tax", "price", "discount") \
            else rng.randrange(1, 100)
    if t == "boolean":
        return rng.random() < 0.5
    if t == "array":
        return [_item(rng, rule["nestedSchema"], i)
                for i in range(rng.randint(1, 5))]
    return f"{rng.choice(_WORDS)}_{rng.randrange(10**4)}"


def _item(rng: random.Random, schema: dict, index: int) -> dict:
    item = {}
    for k, r in schema.items():
        if r.get("optional") and rng.random() < 0.3:
            continue
        item[k] = index if k == "index" else _value_for(rng, k, r)
    return item


def _valid_payload(rng: random.Random, name: str, rules: dict) -> dict:
    ev = {}
    for k, r in rules.items():
        if k == "event_name":
            ev[k] = name
        elif r.get("optional") and rng.random() < 0.25:
            continue
        else:
            ev[k] = _value_for(rng, k, r)
    # parameters outside the schema ride along, as on a real GA4 hit (open
    # world: the validator ignores them), and give the payload its real size
    ev["page_location"] = ("https://shop.example.com/"
                           f"{rng.choice(_WORDS)}/{rng.randrange(10**6)}")
    ev["page_title"] = " ".join(rng.choice(_WORDS) for _ in range(6))
    ev["engagement_time_msec"] = rng.randrange(10, 60_000)
    ev["session_id"] = str(rng.randrange(10**10))
    ev["ga_session_number"] = rng.randrange(1, 50)
    return ev


def _corrupt(rng: random.Random, ev: dict, rules: dict) -> None:
    """One realistic defect: wrong type, missing required key, empty string,
    bad regex/enum value, wrong pinned name, or a broken nested item."""
    keys = [k for k in rules if k != "event_name"] or ["event_name"]
    k = rng.choice(keys)
    r = rules[k]
    kind = rng.randrange(6)
    if kind == 0:
        ev.pop(k, None)
    elif kind == 1:
        ev[k] = "12.5" if r.get("type") == "number" else 42
    elif kind == 2:
        ev[k] = "" if r.get("type") == "string" else None
    elif kind == 3:
        ev[k] = "usd" if k == "currency" else "not-in-list"
    elif kind == 4:
        ev["event_name"] = f"{ev.get('event_name')}_v2"
    elif isinstance(ev.get("items"), list) and any(
            isinstance(it, dict) for it in ev["items"]):
        it = rng.choice([it for it in ev["items"] if isinstance(it, dict)])
        it.pop("item_id", None)
        if "price" in it:
            it["price"] = str(it["price"])
        ev["items"].append("orphan-scalar")
    else:
        ev[k] = [1, 2]


def make_events(seed: int, corpus: dict[str, dict], n: int,
                first_id: int = 0) -> list[tuple[int, str, str]]:
    """(event_id, event_name, payload JSON) rows: ~70 % valid, ~20 % with a
    defect, ~5 % malformed JSON and ~5 % unknown event names."""
    rng = random.Random(seed)
    names = sorted(corpus)
    rows = []
    for i in range(n):
        name = rng.choice(names)
        ev = _valid_payload(rng, name, corpus[name])
        u = rng.random()
        if u < 0.20:
            _corrupt(rng, ev, corpus[name])
            if rng.random() < 0.3:
                _corrupt(rng, ev, corpus[name])
        elif u < 0.25:
            name = f"custom_{rng.choice(_WORDS)}"
            ev["event_name"] = name
        payload = json.dumps(ev, separators=(",", ":"))
        if 0.25 <= u < 0.30:
            payload = payload[:rng.randrange(1, len(payload) - 1)]
        rows.append((first_id + i, name, payload))
    return rows
