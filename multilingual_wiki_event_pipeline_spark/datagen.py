"""Deterministic synthetic corpus generator.

Produces the exact input shape from BASELINE.json ``input_hint`` —
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` — plus the dimension tables that replace the
reference's external services (Wikidata SPARQL endpoint, Wikipedia APIs,
local bz2 page store):

| table                 | replaces (reference)                              |
|-----------------------|---------------------------------------------------|
| transcripts           | wiki page text store (wikipedia_utils.py:56-99)   |
| conv_meta             | ReferenceText metadata (classes.py:382-408)       |
| conv_sources          | primary_ref_texts (native_api_utils.py:121-145)   |
| incidents             | SPARQL incident bindings (utils.py:80-143)        |
| incident_direct_types | direct_types set (utils.py:278-280)               |
| incident_roles        | extra_info role values (utils.py:288-298)         |
| role_mappings         | wdt_fn_mappings/*.json                            |
| type2mapping          | eventtype2json (classes.py:11)                    |
| entity_labels         | obtain_label lookups (utils.py:60-78)             |
| gazetteer             | sitelink/alias dimension (native_api_utils.py)    |
| langlinks             | wiki_langlinks (pilot_utils.py:319-324)           |
| wd_sitelinks          | wd<->wikipedia map (native_api_utils.py:228-262)  |
| annotations           | hyperlink mentions (wikipedia_utils.py:10-32)     |
| srl_predicates/_roles | external SRL layer (xml_utils.py:140-162)         |

Everything is a pure function of (n_incidents, seed): fixed `random.Random`
stream, no wall clock, no hash randomization. Edge cases generated on
purpose (FIXTURES.md): mega-conversations (skew), duplicate-content pages
(dedup tie-break, utils.py:386-398), year-range titles (F2), missing
languages (F3), missing roles (F4), unlabeled role values (label backfill,
pilot_utils.py:160-176), gYear timestamps (classes.py:251-255), '==' section
markers (F1), misaligned mention offsets (pilot_utils.py:297-306),
percent-encoded URIs (P2/C2), empty/missing page fetches (F8).
"""

from __future__ import annotations

import datetime as dt
import random
import urllib.parse
from dataclasses import dataclass, field

from .functions.text import TURN_SEPARATOR, offset_alignment_maps, tokenize
from .sources.tables import CORPUS_SCHEMAS, ddl_columns

LANGS = ["en", "nl", "it"]

WD = "http://www.wikidata.org/entity/"

# Role-mapping dimension: verbatim semantics of the reference's
# wdt_fn_mappings/{any,change_of_leadership,killing}.json.
ROLE_MAPPINGS: dict[str, dict[str, list[str]]] = {
    "any": {
        "sem:hasPlace": ["wdt:P17"],
        "sem:hasTimeStamp": ["wdt:P585"],
    },
    "change_of_leadership": {
        "sem:hasPlace": ["wdt:P17"],
        "sem:hasTimeStamp": ["wdt:P585"],
        "sem:hasActor": ["wdt:P991", "wdt:P155/wdt:P991"],
        "pm:fn17-change_of_leadership@new_leader": ["wdt:P991"],
        "pm:fn17-change_of_leadership@old_leader": ["wdt:P155/wdt:P991"],
        "pm:fn17-change_of_leadership@role": ["wdt:P541"],
        "pm:fn17-change_of_leadership@place": ["wdt:P17"],
    },
    "killing": {
        "sem:hasPlace": ["wdt:P17"],
        "sem:hasTimeStamp": ["wdt:P585"],
        "sem:hasActor": ["wdt:P710"],
    },
}

EVENT_TYPES = [  # (type_qid, mapping_name)
    ("Q40231", "change_of_leadership"),  # election
    ("Q132821", "killing"),  # murder
    ("Q3001412", "any"),  # horse race (any.json fallback)
]

_VOCAB = {
    "en": (
        "the council met after long talks about trade and water rights while "
        "citizens waited outside for news of the final vote on the treaty "
        "morning reports suggested delays caused by storms across the region"
    ).split(),
    "nl": (
        "de raad kwam samen na lange gesprekken over handel en waterrechten "
        "terwijl burgers buiten wachtten op nieuws over de laatste stemming "
        "ochtend berichten wezen op vertraging door stormen in de regio"
    ).split(),
    "it": (
        "il consiglio si è riunito dopo lunghi colloqui su commercio e acqua "
        "mentre i cittadini aspettavano fuori notizie sul voto finale del "
        "trattato i rapporti del mattino indicavano ritardi per le tempeste"
    ).split(),
}

_ENTITY_BASES = [
    "Alpha", "Borun", "Cadia", "Delven", "Estrel", "Farрод", "Galvia", "Hestor",
    "Ilmar", "Jorvik", "Kельt", "Lumen", "Mardek", "Norvel", "Ostia", "Prell",
    "Quorim", "Ravel", "Selkur", "Tandor", "Umbra", "Voland", "Weshol", "Xantor",
    "Ybel", "Zorad",
]
_ENTITY_KINDS = ["City", "Republic", "Union", "Party", "Prize", "Council"]

_FRAMES = [
    "http://premon.fbk.eu/resource/fn17-change_of_leadership",
    "http://premon.fbk.eu/resource/fn17-killing",
    "http://premon.fbk.eu/resource/fn17-arriving",
]
_SRL_ROLES = ["A0", "A1", "AM-LOC", "AM-TMP"]


@dataclass
class Corpus:
    """In-memory corpus: dict of table name -> list of row dicts."""

    tables: dict[str, list[dict]] = field(default_factory=dict)

    def rows(self, name: str) -> list[dict]:
        return self.tables[name]


def wiki_prefix(lang: str) -> str:
    return f"https://{lang}.wikipedia.org/wiki/"


def title_to_uri(title: str, lang: str, encode: bool = False) -> str:
    """space->underscore then (optionally) percent-encode — reference
    wikipedia_utils.py:35-54."""
    path = title.replace(" ", "_")
    if encode:
        path = urllib.parse.quote(path, safe="")
    return wiki_prefix(lang) + path


def generate(n_incidents: int = 30, seed: int = 42, mega_every: int = 25) -> Corpus:
    rng = random.Random(seed)
    c = Corpus(
        tables={name: [] for name in CORPUS_SCHEMAS}
    )

    # --- role mappings + type2mapping dimensions -------------------------
    for mapping_name, roles in ROLE_MAPPINGS.items():
        for role, paths in roles.items():
            for p in paths:
                c.tables["role_mappings"].append(
                    {"mapping_name": mapping_name, "role": role, "prop_path": p}
                )
    for type_qid, mapping_name in EVENT_TYPES:
        c.tables["type2mapping"].append({"type_qid": type_qid, "mapping_name": mapping_name})

    # --- ontology: subclass-of tree under the event root ------------------
    # (utils.py:489-552 subgraph; direct types wd:Q700000..Q700036). Tree
    # depth <= 3; types with t % 11 == 10 are deliberately DISCONNECTED from
    # the root (no root path -> update_incident contributes nothing).
    ONTOLOGY_ROOT = "wd:Q1656682"
    for m in range(7):
        c.tables["ontology_edges"].append(
            {"child": f"wd:Q7100{m}", "parent": ONTOLOGY_ROOT}
        )
    for j in range(5):
        c.tables["ontology_edges"].append(
            {"child": f"wd:Q72000{j}", "parent": f"wd:Q7100{j % 7}"}
        )
    for tq in range(37):
        if tq % 11 == 10:
            continue  # unreachable type
        child = f"wd:Q{700000 + tq}"
        parent = f"wd:Q72000{tq % 5}" if tq % 3 == 0 else f"wd:Q7100{tq % 7}"
        c.tables["ontology_edges"].append({"child": child, "parent": parent})

    # --- entities ---------------------------------------------------------
    n_entities = max(24, n_incidents)
    entities = []
    for i in range(n_entities):
        qid = f"Q{1000 + i}"
        base = _ENTITY_BASES[i % len(_ENTITY_BASES)]
        kind = _ENTITY_KINDS[(i // len(_ENTITY_BASES)) % len(_ENTITY_KINDS)]
        label_en = f"{base} {kind}" if i % 3 else base  # some single-word
        # beyond the name pool, disambiguate like real wiki titles do —
        # otherwise thousands of entities share one page URI and the
        # langlink/sitelink fanout per key grows with corpus size instead
        # of staying constant (unrealistic, and it quadratically inflates
        # every ref expansion downstream)
        pool = len(_ENTITY_BASES) * len(_ENTITY_KINDS)
        if i >= pool:
            label_en = f"{label_en} {i // pool + 1}"
        labels = {
            "en": label_en,
            "nl": label_en + ("ië" if i % 2 else ""),
            "it": label_en + ("o" if i % 2 else ""),
        }
        # a few entities intentionally lack a label row (backfill miss -> '')
        has_label_row = i % 11 != 7
        if has_label_row:
            c.tables["entity_labels"].append({"qid": qid, "label": label_en})
        ent = {"qid": qid, "labels": labels, "wiki": {}}
        for lang in LANGS:
            title = labels[lang]
            if i % 9 == 4:
                title = f"{title} (disambiguation {lang})"  # parens -> %28..%29
            uri = title_to_uri(title, lang)
            ent["wiki"][lang] = {"title": title, "uri": uri}
            c.tables["wd_sitelinks"].append({"wiki_uri": uri, "wd_uri": WD + qid, "lang": lang})
            # gazetteer surfaces: the label plus an alias; priors sum per surface
            c.tables["gazetteer"].append(
                {"qid": qid, "lang": lang, "surface": labels[lang], "uri": uri,
                 "prior": round(0.5 + 0.4 * ((i * 7 + len(lang)) % 10) / 10, 3)}
            )
        # ambiguous surface: every 8th entity shares the previous one's EN surface
        if i % 8 == 5 and entities:
            prev = entities[-1]
            c.tables["gazetteer"].append(
                {"qid": qid, "lang": "en", "surface": prev["labels"]["en"],
                 "uri": ent["wiki"]["en"]["uri"], "prior": 0.11}
            )
        entities.append(ent)
    # langlinks: en<->nl<->it fanout per entity
    for ent in entities:
        for lang in LANGS:
            for other in LANGS:
                if other == lang:
                    continue
                c.tables["langlinks"].append(
                    {"lang": lang, "uri": ent["wiki"][lang]["uri"],
                     "other_lang": other, "other_uri": ent["wiki"][other]["uri"]}
                )

    # --- incidents --------------------------------------------------------
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for i in range(n_incidents):
        inc_qid = f"Q{500000 + i}"
        type_qid, mapping_name = EVENT_TYPES[i % len(EVENT_TYPES)]
        roles = ROLE_MAPPINGS[mapping_name]
        c.tables["incidents"].append(
            {
                "incident_id": inc_qid,
                "incident_type": type_qid,
                "incident_type_uri": WD + type_qid,
                "participant_id": None,
                "participant_event_label": None,
            }
        )
        for k in range(1 + (i % 3)):
            c.tables["incident_direct_types"].append(
                {"incident_id": inc_qid, "direct_type": f"wd:Q{700000 + (i + k) % 37}"}
            )

        # role values: entity URIs (packed "uri | label" or bare) + timestamps
        place = entities[(i * 3) % n_entities]
        actors = [entities[(i * 5 + 1) % n_entities], entities[(i * 5 + 2) % n_entities]]
        missing_role = i % 13 == 6  # F4 filter-out case
        this_roles: list[dict] = []
        for role in roles:
            if missing_role and role == "sem:hasPlace":
                continue
            if role == "sem:hasTimeStamp":
                if i % 4 == 0:
                    value = f"{1990 + i % 30}-01-01T00:00:00Z"  # gYear case
                else:
                    value = f"{2000 + i % 20}-0{1 + i % 9}-1{i % 8}T00:00:00Z"
                this_roles.append(
                    {"incident_id": inc_qid, "role": role, "value": value}
                )
                continue
            vals = [place] if "lace" in role.lower() or role.endswith("@place") else actors[: 1 + i % 2]
            for v in vals:
                uri = WD + v["qid"]
                if (i + len(role)) % 5 == 2:
                    packed = uri  # unlabeled -> backfill path
                else:
                    packed = f"{uri} | {v['labels']['en']}"
                this_roles.append(
                    {"incident_id": inc_qid, "role": role, "value": packed}
                )
        c.tables["incident_roles"].extend(this_roles)

        # --- conversations (reference texts) ----------------------------
        inc_langs = list(LANGS)
        if i % 17 == 9:
            inc_langs.remove("it")  # F3 missing-language case
        if i % 23 == 11:
            inc_langs.remove("en")  # F3 must_have_english case
        inc_label = f"{place['labels']['en']} incident {i}"
        # the incident's own wiki pages (k=0 per lang) are sitelinked so that
        # self-mentions resolve to the incident's wd uri -> 'event' corefs
        inc_ent = {"qid": inc_qid, "labels": {}, "wiki": {}}
        for lang in inc_langs:
            name0 = f"{inc_label} {lang}"
            if i % 19 == 8 and lang == "en":
                name0 = f"{inc_label} 1990-1995"
            uri0 = title_to_uri(name0, lang)
            inc_ent["labels"][lang] = name0
            inc_ent["wiki"][lang] = {"title": name0, "uri": uri0}
            c.tables["wd_sitelinks"].append(
                {"wiki_uri": uri0, "wd_uri": WD + inc_qid, "lang": lang}
            )
        related = [place] + actors + [inc_ent]
        for lang in inc_langs:
            n_pages = 2 if i % 10 == 3 else 1  # extra page: dup or F3-violation
            first_page: tuple[list, list] | None = None
            for k in range(n_pages):
                # k=0 name matches the sitelinked incident page above
                # (i%19==8 en gives the F2 year-range title)
                name = inc_ent["wiki"][lang]["title"] if k == 0 else f"{inc_label} {lang} extra"
                conv_id = f"{inc_qid}-{lang}-{k}"
                encode = i % 9 == 4
                uri = title_to_uri(name, lang, encode=False)
                # found_by provenance (reference main.py:60-76,111): the
                # SPARQL seed scan marks texts ['SPARQL']; the API title
                # merge appends 'API' on a (name, lang) hit or mints
                # API-only texts — all three classes appear deterministically.
                if k == 0:
                    found_by = ["SPARQL", "API"] if i % 5 == 1 else ["SPARQL"]
                else:
                    found_by = ["API"] if i % 20 == 13 else ["SPARQL"]
                c.tables["conv_meta"].append(
                    {"conv_id": conv_id, "incident_id": inc_qid, "lang": lang,
                     "name": name, "uri": uri, "found_by": found_by}
                )
                for s in range(i % 3):
                    c.tables["conv_sources"].append(
                        {"conv_id": conv_id,
                         "source": f"http://news.example.org/{inc_qid}/{lang}/{s}"}
                    )
                if i % 29 == 13 and k == 0 and lang == "nl":
                    continue  # missing page fetch (F8): meta row, no transcript rows

                is_mega = mega_every and (i % mega_every == 7) and lang == "en" and k == 0
                n_turns = rng.randint(24, 40) if not is_mega else rng.randint(400, 500)
                make_dup = k == 1 and i % 20 == 3  # identical content pair
                turns, anns = _make_conversation(
                    rng, lang, n_turns, related, entities, encode_uris=encode,
                    add_section=(i % 7 == 2),
                )
                if make_dup and first_page is not None:
                    # same content, different (larger) name -> A2 dedup keeps
                    # THIS page (utils.py:392 keeps the lexicographic max name)
                    turns, anns = first_page
                if k == 0:
                    first_page = (turns, anns)
                for t_idx, (text, role_name, tool) in enumerate(turns):
                    c.tables["transcripts"].append(
                        {"conv_id": conv_id, "turn_idx": t_idx, "role": role_name,
                         "text": text, "tool": tool,
                         "ts": t0 + dt.timedelta(hours=i, minutes=t_idx)}
                    )
                for off, sf, uri_frag in anns:
                    c.tables["annotations"].append(
                        {"conv_id": conv_id, "surface_form": sf, "uri": uri_frag,
                         "offset": off}
                    )
                _make_srl(rng, c, conv_id, [t[0] for t in turns], anns)

        # --- participant-mode seed variant (S2) --------------------------
        # query_test.py:144-150: a fake wdt id minted from participant +
        # event ids; direct_types = the event id itself (utils.py:352);
        # references carry the PARTICIPANT name in every language
        # (utils.py:366 "We want the participant name here").
        if i % 4 == 2:
            p_ent = actors[0]
            p_wdt = f"{p_ent['qid']}_{inc_qid}"
            c.tables["incidents"].append(
                {
                    "incident_id": p_wdt,
                    "incident_type": type_qid,
                    "incident_type_uri": WD + type_qid,
                    "participant_id": p_ent["qid"],
                    "participant_event_label": f"{p_ent['labels']['en']} {inc_label}",
                }
            )
            c.tables["incident_direct_types"].append(
                {"incident_id": p_wdt, "direct_type": f"wd:{inc_qid}"}
            )
            for r in this_roles:
                c.tables["incident_roles"].append({**r, "incident_id": p_wdt})
            # isolated rng stream: participant convs must not perturb the
            # base corpus (fixtures and parity expectations stay stable)
            prng = random.Random(f"{seed}:participant:{i}")
            p_name = p_ent["labels"]["en"]
            for lang in LANGS:
                conv_id = f"{p_wdt}-{lang}-0"
                c.tables["conv_meta"].append(
                    {"conv_id": conv_id, "incident_id": p_wdt, "lang": lang,
                     "name": p_name, "uri": title_to_uri(p_name, lang),
                     "found_by": ["SPARQL"]}  # query_test.py:158 seed path
                )
                # (i // 4) % 2: nonzero for half the participant convs —
                # i ≡ 2 (mod 4) here, so the old `i % 2` was always 0 and
                # the dct:source branch of participant serialization was
                # never exercised (round-2 ADVICE).
                for s in range((i // 4) % 2):
                    c.tables["conv_sources"].append(
                        {"conv_id": conv_id,
                         "source": f"http://news.example.org/{p_wdt}/{lang}/{s}"}
                    )
                vocab = _VOCAB[lang]
                for t_idx in range(prng.randint(8, 16)):
                    words = [vocab[prng.randrange(len(vocab))]
                             for _ in range(prng.randint(8, 14))]
                    c.tables["transcripts"].append(
                        {"conv_id": conv_id, "turn_idx": t_idx,
                         "role": ("user", "assistant")[t_idx % 2],
                         "text": " ".join(words), "tool": None,
                         "ts": t0 + dt.timedelta(hours=i, minutes=200 + t_idx)}
                    )

    return c


def _make_conversation(rng, lang, n_turns, related, entities, encode_uris, add_section):
    """Returns ([(text, role, tool)], [(global_offset, surface, uri_fragment)])."""
    vocab = _VOCAB[lang]
    turns: list[tuple[str, str, str | None]] = []
    anns: list[tuple[int, str, str]] = []
    doc_len = 0
    for t in range(n_turns):
        role = ("user", "assistant", "tool")[t % 3 if t % 7 == 3 else t % 2]
        tool = "search" if role == "tool" else None
        words = [rng.choice(vocab) for _ in range(rng.randint(6, 14))]
        # 0-2 mentions per turn
        n_m = rng.choice([0, 0, 1, 1, 1, 2])
        mention_items = []
        for _ in range(n_m):
            ent = rng.choice(related) if rng.random() < 0.7 else rng.choice(entities)
            title = ent["wiki"][lang]["title"]
            frag = title.replace(" ", "_")
            if encode_uris:
                frag = urllib.parse.quote(frag, safe="")
            mention_items.append((ent["labels"][lang], frag))
        positions = sorted(rng.sample(range(len(words) + 1), len(mention_items)))
        items: list[tuple[str, tuple[str, str] | None]] = []
        wi = 0
        for pos_i, pos in enumerate(positions):
            while wi < pos:
                items.append((words[wi], None))
                wi += 1
            sf, frag = mention_items[pos_i]
            items.append((sf, (sf, frag)))
        while wi < len(words):
            items.append((words[wi], None))
            wi += 1

        off = 0
        parts = []
        for text, m in items:
            if parts:
                off += 1
            if m is not None:
                g_off = doc_len + off
                if rng.random() < 0.05:
                    g_off += 1  # misaligned mention -> F10 skip path
                anns.append((g_off, m[0], m[1]))
            parts.append(text)
            off += len(text)
        turn_text = " ".join(parts)
        if add_section and t == n_turns - 2:
            turn_text = "== References == " + turn_text  # F1 cut point
        turns.append((turn_text, role, tool))
        doc_len += len(turn_text) + len(TURN_SEPARATOR)
    return turns, anns


def _make_srl(rng, c: Corpus, conv_id: str, turn_texts: list[str], anns) -> None:
    """Emit SRL predicate/role token spans over the assembled document.

    Role spans are chosen to cover entity-mention token ranges (identity,
    superset) and disjoint cases — the truth table of reference
    xml_utils.py:184-187.
    """
    content = TURN_SEPARATOR.join(turn_texts)
    tokens = tokenize(content)
    if len(tokens) < 8:
        return
    start2tid, end2tid = offset_alignment_maps(tokens)
    mention_tid_ranges = []
    for off, sf, _frag in anns:
        end = off + len(sf)
        if off in start2tid and end in end2tid:
            mention_tid_ranges.append((start2tid[off], end2tid[end]))
    n_preds = min(3, max(1, len(tokens) // 120))
    for p in range(n_preds):
        pid = f"{conv_id}#pr{p}"
        anchor = rng.randrange(1, len(tokens) - 4)
        frame = rng.choice(_FRAMES)
        c.tables["srl_predicates"].append(
            {"conv_id": conv_id, "pred_id": pid, "frame": frame,
             "begin_tid": anchor, "end_tid": anchor + rng.choice([0, 1])}
        )
        n_roles = rng.randint(1, 3)
        for r in range(n_roles):
            role = rng.choice(_SRL_ROLES)
            if mention_tid_ranges and rng.random() < 0.6:
                mb, me = rng.choice(mention_tid_ranges)
                if rng.random() < 0.5:
                    b, e = mb, me  # identity containment
                else:
                    b, e = max(1, mb - rng.randint(1, 3)), min(len(tokens), me + rng.randint(1, 3))
            else:
                b = rng.randrange(1, len(tokens))
                e = min(len(tokens), b + rng.randint(0, 4))
            c.tables["srl_roles"].append(
                {"conv_id": conv_id, "pred_id": pid, "role": role,
                 "begin_tid": b, "end_tid": e}
            )


# ---------------------------------------------------------------------------
# Parquet writing
# ---------------------------------------------------------------------------

def write_parquet(corpus: Corpus, out_dir: str) -> None:
    """One ``<table>.parquet`` file per corpus table, written with the
    schema that ``CorpusTables`` declares when it reads the table back
    (``sources.tables.CORPUS_SCHEMAS``)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_types = {
        "STRING": pa.string(), "INT": pa.int32(), "DOUBLE": pa.float64(),
        "ARRAY<STRING>": pa.list_(pa.string()),
        "TIMESTAMP": pa.timestamp("us", tz="UTC"),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, ddl in CORPUS_SCHEMAS.items():
        rows = corpus.tables[name]
        cols = ddl_columns(ddl)
        schema = pa.schema([(col, arrow_types[typ]) for col, typ in cols])
        arrays = {col: [r.get(col) for r in rows] for col, _ in cols}
        table = pa.Table.from_pydict(arrays, schema=schema)
        # small row groups keep the file splittable: Spark parallelizes a
        # parquet scan at row-group granularity, and a single-group file
        # serializes the whole first stage regardless of cluster size.
        pq.write_table(table, f"{out_dir}/{name}.parquet", row_group_size=4096)


def generate_to_dir(out_dir: str, n_incidents: int = 30, seed: int = 42,
                    mega_every: int = 25) -> Corpus:
    corpus = generate(n_incidents=n_incidents, seed=seed, mega_every=mega_every)
    write_parquet(corpus, out_dir)
    return corpus
