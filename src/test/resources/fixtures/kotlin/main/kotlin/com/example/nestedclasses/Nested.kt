package com.example.nestedclasses

class Parent {
    class Child {
        open class GrandChild {
            open fun greet(): String = "hello from Parent.Child.GrandChild"
        }
    }

    class GrandChild : Child.GrandChild() {
        override fun greet(): String = "hello from Parent.GrandChild"
    }
}
