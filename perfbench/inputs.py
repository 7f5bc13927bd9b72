"""Seeded input generators. The program under test only ever sees the files
written here; the same seed always gives the same bytes."""

from __future__ import annotations

import csv
import os

import numpy as np

STREETS = ["Oak", "Pine", "Maple", "Cedar", "Elm", "Lake", "Hill", "River", "Park", "Mill"]
SUFFIX = ["St", "Ave", "Rd", "Ln", "Way", "Blvd", "Ct", "Dr"]
CITIES = ["Lisaview", "New Mark", "Port Anna", "East Jose", "Lake Tom", "Northburgh"]
STATES = ["AZ", "CA", "CO", "FL", "MT", "NY", "OH", "TX", "WA"]
LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor "
    "incididunt ut labore et dolore magna aliqua enim ad minim veniam quis nostrud "
    "exercitation ullamco laboris nisi aliquip ex ea commodo consequat duis aute irure "
    "in reprehenderit voluptate velit esse cillum fugiat nulla pariatur excepteur sint "
    "occaecat cupidatat non proident sunt culpa qui officia deserunt mollit anim id est"
).split()

# Six of the reference's 13 customer columns (FIXTURES.md §A), one of each
# logical type the reference's cascade assigns: integer, phone, float,
# boolean, categorical and text. 'address' is a quoted two-line field typed
# 'phone': the special-format check (7-15 digits) runs before the text rule.
# 'feedback' is free text, the only type that generates through the
# embedding path (an MVN draw and a k-NN decode per row). The reference's
# other text-like columns (name, email, phone, the two dates) take the same
# text-profile and text-validation calls as these two.
SYNTH_COLUMNS = ("customer_id", "address", "total_spent", "is_vip", "segment", "feedback")
EXPECTED_TYPES = {
    "customer_id": "integer",
    "address": "phone",
    "total_spent": "float",
    "is_vip": "boolean",
    "segment": "categorical",
    "feedback": "text",
}


def _address(rng: np.random.RandomState) -> str:
    street = f"{rng.randint(100, 100000)} {STREETS[rng.randint(len(STREETS))]} {SUFFIX[rng.randint(len(SUFFIX))]}"
    if rng.rand() < 0.3:
        street += f" Apt. {rng.randint(100, 1000)}"
    city = CITIES[rng.randint(len(CITIES))]
    return f"{street}\n{city}, {STATES[rng.randint(len(STATES))]} {rng.randint(10000, 100000)}"


def _feedback(rng: np.random.RandomState) -> str:
    """Two or three lorem-like sentences, at most 99 characters."""
    text = ""
    for _ in range(rng.randint(2, 4)):
        words = [LOREM[i] for i in rng.randint(len(LOREM), size=rng.randint(2, 6))]
        sentence = " ".join(words).capitalize() + "."
        if len(text) + 1 + len(sentence) > 99:
            break
        text = f"{text} {sentence}" if text else sentence
    return text


def write_customers_csv(path: str, n_rows: int, seed: int) -> None:
    """``SYNTH_COLUMNS`` of the reference's customer table at ``n_rows``
    rows, as RFC4180 CSV with doubled-quote escapes and the reference's
    value distributions."""
    rng = np.random.RandomState(seed)
    spent = np.round(rng.uniform(22.15, 4995.35, n_rows), 2)
    vip = rng.rand(n_rows) < 0.078
    segment = np.array(["B", "A", "C"])[rng.choice(3, n_rows, p=[0.40, 0.312, 0.288])]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(SYNTH_COLUMNS)
        for i in range(n_rows):
            w.writerow([
                1000 + i,
                _address(rng),
                f"{spent[i]:.2f}",
                "True" if vip[i] else "False",
                segment[i],
                _feedback(rng),
            ])


def write_corpus(outdir: str, scale: float, seed: int) -> None:
    """documents + embeddings parquet from the repo's testdata generator
    (``tools/gen_testdata.py``): 50k docs and 20k embeddings per unit of
    ``scale``."""
    from tools.gen_testdata import generate

    generate(scale, outdir, seed, only={"documents", "embeddings"})
