"""Script hooks the self-tests pass to run.py to plant failures."""

WRONG_OP = "cy_expand_count"
THROW_OP = "cy_union"


def plant_failures(script):
    """Gives one op a wrong expected answer and makes another throw."""
    for step in script["warmup"] + [s for p in script["passes"] for s in p]:
        if step["op"] == WRONG_OP:
            step["oracle"] = None
            step["expect"] = [["no such nation", "0"]]
        elif step["op"] == THROW_OP:
            step["oracle"] = None
            step["text"] = "MATCH (n:Nation RETURN n"
